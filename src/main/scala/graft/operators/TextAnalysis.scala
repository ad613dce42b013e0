package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Text-analysis operators over the documents table (training-data
  * pipeline additions — SURVEY.md §2). Pure per-row maps: embarrassingly
  * parallel, no shuffles at all, fully codegen-friendly.
  */
object TextAnalysis {
  /** Stopword marker lists for the language-ID heuristic (fixed,
    * shared with the oracle SQL). */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  private val BpePattern = "[a-z]+|[0-9]|[^a-z0-9 ]"

  /** Whitespace + BPE-ish regex token counts. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws"),
        regexp_count(col("text"), lit(BpePattern)).cast("long").as("n_bpe"))

  /** Per-language tokenizer health dashboard (fertility stats): doc
    * counts, total tokens/chars, chars-per-token (the bytes-per-token
    * proxy a tokenizer team watches per language — a language whose
    * fertility drifts is being fragmented) and tokens-per-doc. One
    * map-side-combined groupBy of per-row integer stats; divisions of
    * exact long sums are engine-identical. */
  def tokenizerStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("total_tokens"),
        sum("n_chars").as("total_chars"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        col("total_chars"),
        rnd(col("total_chars") / col("total_tokens")).as("chars_per_token"),
        rnd(col("total_tokens") / col("n_docs")).as("tokens_per_doc"))

  /** Corpus bigram frequency: top `topN` word 2-grams by count — the
    * corpus-analysis query a training-data pipeline runs for
    * boilerplate/contamination detection. Explode + groupBy with
    * map-side combine; the global top-N is orderBy+limit, which Spark
    * executes as TakeOrdered (per-partition heap + driver merge of N),
    * not a full sort shuffle. */
  def ngramFreq(spark: SparkSession, dir: String, topN: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(tokens(col("text")).as("_toks"))
      .select(explode(when(size(col("_toks")) >= 2,
        transform(sequence(lit(1), size(col("_toks")) - 1), i =>
          concat(element_at(col("_toks"), i), lit(" "),
            element_at(col("_toks"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("gram"))
      .limit(topN)

  /** Per-doc bigram language-model score — the CCNet/Gopher-style
    * perplexity quality signal: the corpus itself is the LM (Laplace-
    * smoothed bigram MLE, P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V)), and each
    * doc scores the mean log-prob of its own bigrams. Low scores flag
    * gibberish/boilerplate; high scores flag natural text.
    *
    * Scale shape: corpus unigram/bigram counts are map-side-combined
    * keyed groupBys; the unigram counts fold into the BIGRAM-VOCAB
    * table first (w1 is a prefix of the gram key, so that join is
    * vocab×vocab, never touches the stream, and absorbs the hot-w1
    * skew — "the …" has many distinct bigrams but each is one row);
    * the doc-bigram stream then takes ONE keyed join on the gram.
    * The earlier form joined the stream twice, once on raw w1 — a
    * classic hot-key join that read exponent 1.09 at 10×. The
    * single-row vocabulary size broadcasts.
    * Determinism: each bigram's ln() output is quantized at 1e6 before
    * the per-doc integer mean (Spark's StrictMath-based log and
    * DuckDB's libm ln can differ in the last ulp; the coarse grid
    * collapses that), so both engines average identical integers. */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val (grams, lm) = bigramLmParts(spark, dir)
    grams.join(lm.select("gram", "qlp").hint("shuffle_hash"), "gram")
      .select(col("doc_id"), col("qlp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        rnd(sum("qlp") / count(lit(1)) / lit(1e6), 4).as("lm_score"))
  }

  /** (doc-bigram stream (doc_id, gram), LM table (gram, c2, c1v, qlp))
    * — shared by [[bigramLmScore]] and [[bigramQlpLiterals]] so the
    * verified query and the oracle-literal dump can never diverge. */
  private def bigramLmParts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def docToks = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
    val grams = docToks.filter(size(col("_toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("_toks")) - 1), i =>
          concat(element_at(col("_toks"), i), lit(" "),
            element_at(col("_toks"), i + 1)))).as("gram"))
    val uni = docToks.select(explode(col("_toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocabSize = uni.agg(count(lit(1)).as("vocab"))
    // gram → quantized log-prob lookup table: bigram counts with the
    // unigram denominator folded in (w1 recovered from the gram prefix)
    // shuffle_hash hints on BOTH vocab joins: the static size estimate
    // sees only the (tiny) parquet file behind each subtree and cannot
    // price the explode's row multiplication, so without the hint the
    // planner BROADCASTS the exploded doc-bigram stream (observed at
    // 10×: the whole 5M-row stream collected to the driver — the source
    // of 3-78 s run-to-run variance; at 100 TB an OOM). Both vocab
    // tables also grow with corpus size (Heaps' law), so the scale-safe
    // plan is a shuffle on the join key with the hash map built on the
    // vocab side — which is what the hint pins, at every scale.
    val lm = grams.groupBy("gram").agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
      .join(uni.hint("shuffle_hash"), "w1")
      .crossJoin(broadcast(vocabSize))
      .select(col("gram"), col("c2"),
        (col("c1") + col("vocab")).as("c1v"),
        floor(log((col("c2") + 1) / (col("c1") + col("vocab")).cast("double")) * 1e6 + 0.5)
          .cast("long").as("qlp"))
    (grams, lm)
  }

  /** Distinct (c2, c1+vocab → qlp) rows of the LM table — the literal
    * form the Verify overlay embeds in the oracle SQL so DuckDB never
    * evaluates an ln() of its own (the cross-engine libm risk). The
    * values are computed by the SAME Catalyst expression the verified
    * query scores with; the distinct arg-pair count grows ~√corpus
    * (count values, not bigrams), measured 450 (sf0.01) / 752 (sf0.1).
    * Driver-side collect is bounded by that pair count — this feeds
    * the VERIFY-time oracle dump only, never a data-path plan. */
  def bigramQlpLiterals(spark: SparkSession, dir: String): Seq[(Long, Long, Long)] = {
    val (_, lm) = bigramLmParts(spark, dir)
    lm.select("c2", "c1v", "qlp").distinct().orderBy("c2", "c1v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  /** Vocabulary coverage — the tokenizer-health metric of a training
    * pipeline: build the top-`vocabSize` tokens by total occurrence
    * count (ties by token), then report per-language token totals and
    * the out-of-vocabulary occurrence rate. Scale shape: the token
    * count is one map-side-combined groupBy; the top-N is a
    * TakeOrdered (no full sort); the vocab is broadcast back against
    * the exploded token stream, so the corpus is scanned twice and
    * shuffled narrow once — no all-token shuffle carries text. */
  def vocabCoverage(spark: SparkSession, dir: String,
                    vocabSize: Int = 1000): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        rnd(col("n_oov") / col("n_tokens").cast("double"), 4).as("oov_rate"))
  }

  /** n-gram/stopword-heuristic language ID: per-language marker hit
    * counts, argmax with ties resolved in marker-list order, all-zero
    * → 'und'. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    // one tokenize per row, five marker scans over the materialized array
    val scoreCols = markers.map { case (l, ws) =>
      size(filter(col("_toks"), t => t.isin(ws.map(lit): _*))).cast("long").as(s"s_$l")
    }
    // first matching branch wins -> ties resolve in markers order
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id") +: scoreCols: _*)
      .withColumn("pred_lang",
        markers.reverse.foldLeft(lit("und")) { case (els, (l, _)) =>
          when(col(s"s_$l") >= greatest(markers.map(m => col(s"s_${m._1}")): _*) &&
            col(s"s_$l") > 0, lit(l)).otherwise(els)
        })
  }

  /** Language-ID confusion matrix — the evaluation a pipeline runs to
    * decide whether the heuristic classifier is good enough to gate on:
    * predicted vs labeled language counts. The per-doc prediction frame
    * reduces to (lang, pred_lang) pairs in one map-side-combined
    * groupBy; output is |langs|² max. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir).select("doc_id", "pred_lang")
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("cnt"))

  /** Deterministic quality score from token statistics
    * (length / distinct-ratio / token-length / stopword components). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = markers.head._2 // english stopwords
    // one byte scan per text for the three token counts — equal to
    // size(tokens), size(array_distinct(tokens)) and
    // size(filter(tokens, isin(stop))), the spec in FunctionsSpec
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        graft.functions.native.tokenStats(col("text"), stop).as("_ts"))
      .select(col("doc_id"), col("_ts.n_toks"), col("_ts.n_uniq"),
        length(col("text")).cast("long").as("n_chars"), col("_ts.n_stop"))
      .withColumn("uniq_ratio", rnd(col("n_uniq") / col("n_toks").cast("double"), 4))
      .withColumn("quality", rnd(
        lit(0.25) * least(lit(1.0), col("n_toks") / lit(100.0)) +
          lit(0.35) * (col("n_uniq") / col("n_toks").cast("double")) +
          lit(0.2) * least(lit(1.0),
            ((col("n_chars") - (col("n_toks") - 1)) / col("n_toks").cast("double")) / lit(8.0)) +
          lit(0.2) * (lit(1.0) - col("n_stop") / col("n_toks").cast("double")), 4))
      .select("doc_id", "n_toks", "uniq_ratio", "quality")
  }

  /** Canonical text normalization (lowercase, strip non-alnum, collapse
    * whitespace, trim) — the cleaning step ahead of dedup/encoding in a
    * training-data pipeline. Verified via length + md5 of the
    * normalized form (md5 is identical across engines). */
  def normalize(spark: SparkSession, dir: String): DataFrame = {
    // codegen'd byte-loop ≡ trim(regexp_replace(regexp_replace(lower(t),
    // "[^a-z0-9 ]", ""), " +", " ")) — the oracle keeps the regex form
    val norm = graft.functions.native.normalizeAscii(lower(col("text")))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(norm).cast("long").as("n_chars_norm"),
        md5(norm.cast("binary")).as("norm_hash"))
  }

  /** Rolling polynomial fingerprints: whole-text hash (base 131) and an
    * order-sensitive token-sequence hash. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val ts = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        polyHash(col("text"), 131).as("fp_text"),
        aggregate(ts, lit(0L),
          (h, t) => (h * 1000003L + polyHash(t)) % HashP).as("fp_tokens"))
  }

  /** Token-run fold: longest run of consecutive identical tokens in
    * `ts`, plus the token that first achieved it ('arg'). Over SORTED
    * tokens the max run is the max occurrence count (the mode); over
    * the original order it is the longest immediate repetition. Pure
    * sequential struct fold — integer/string logic only, so the result
    * is engine-exact. */
  private def runFold(ts: Column): Column =
    aggregate(ts,
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("mx"), lit("").as("arg")),
      (a, t) => {
        val r2 = when(t === a.getField("prev"), a.getField("run") + 1L).otherwise(1L)
        struct(t.as("prev"), r2.as("run"),
          greatest(a.getField("mx"), r2).as("mx"),
          when(r2 > a.getField("mx"), t).otherwise(a.getField("arg")).as("arg"))
      })

  /** Repetition statistics per document — the Gopher-rules repetition
    * signals an LLM-corpus quality gate keys on (mode-token fraction,
    * longest immediate token run, duplicate-bigram fraction). Pure
    * per-row map over the token array: zero shuffle, codegen-friendly,
    * and every statistic is integer-derived so the only rounding is the
    * final display rnd. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("_toks")).cast("long")
    val bigrams = when(n >= 2,
      transform(sequence(lit(1), size(col("_toks")) - 1), i =>
        concat(element_at(col("_toks"), i), lit(" "),
          element_at(col("_toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("_toks"), n.as("n_toks"),
        runFold(array_sort(col("_toks"))).as("_sf"),
        runFold(col("_toks")).getField("mx").as("max_run"),
        bigrams.as("_bg"))
      .select(col("doc_id"), col("n_toks"),
        col("_sf").getField("arg").as("top_tok"),
        when(col("n_toks") > 0,
          rnd(col("_sf").getField("mx") / col("n_toks").cast("double"), 4))
          .otherwise(0.0).as("top_tok_frac"),
        col("max_run"),
        when(size(col("_bg")) > 0,
          rnd((size(col("_bg")) - size(array_distinct(col("_bg"))))
            / size(col("_bg")).cast("double"), 4))
          .otherwise(0.0).as("dup_2gram_frac"))
  }

  /** log2 lookup bound: token counts and doc lengths clamp here before
    * the table lookup. Docs longer than the cap saturate the signal —
    * IDENTICALLY on both engines, so the hash contract holds; raise the
    * cap (it only grows two literal arrays) for longer-doc corpora. */
  val EntropyCap = 256

  /** log2(1..cap) computed once in Scala and embedded as a literal
    * array in BOTH the plan and the oracle (the NDCG discount-table
    * technique) — neither engine ever evaluates a log, so there is no
    * libm divergence to round away. */
  val log2Table: Seq[Double] =
    (1 to EntropyCap).map(k =>
      math.floor(math.log(k) / math.log(2.0) * 1e9 + 0.5) / 1e9)

  /** Token-distribution (Shannon) entropy per document — the
    * vocabulary-diversity quality signal (low entropy = repetitive/
    * boilerplate text even when uniq_ratio looks fine). Identity used:
    * H = log2(n) − (Σ c·log2(c)) / n over per-token counts c, so only
    * integer-indexed table lookups are needed. The per-term products
    * are fixed-point longs summed with an order-free integer fold
    * (list_distinct order differs between engines — a double fold in
    * that order would be ULP-order-dependent). Pure per-row map, zero
    * shuffle. */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    val tbl = array(log2Table.map(lit): _*)
    val counts = transform(array_distinct(col("_toks")),
      u => size(filter(col("_toks"), x => x === u)).cast("long"))
    val n = size(col("_toks")).cast("long")
    val sumFx = aggregate(col("_cnts"), lit(0L), (a, c) =>
      a + floor(c.cast("double") *
        element_at(tbl, least(c, lit(EntropyCap.toLong)).cast("int")) * 1e6 + 0.5).cast("long"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("_toks"), n.as("n_toks"), counts.as("_cnts"))
      .select(col("doc_id"), col("n_toks"),
        size(col("_cnts")).cast("long").as("n_uniq"),
        when(col("n_toks") > 0, rnd(
          element_at(tbl, least(col("n_toks"), lit(EntropyCap.toLong)).cast("int"))
            - (sumFx / 1e6) / col("n_toks"), 4))
          .otherwise(0.0).as("entropy"))
  }

  /** PII patterns shared by the Spark plan and the oracle — restricted
    * to the regex subset Java and RE2 interpret identically (character
    * classes + bounded quantifiers; no backrefs, no lookaround). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** PII scrubbing (emails/phones → placeholder tokens) — the redaction
    * pass a training-data pipeline runs before anything else. The
    * driver corpus contains no PII-shaped strings (verified), so the
    * query PLANTS deterministic synthetic PII derived from doc_id and
    * then must scrub exactly what it planted — both engines run the
    * same plant + scrub, so a regex-dialect or replace-semantics
    * divergence fails the hash match. Pure per-row map, no shuffle. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com call +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
    val scrubbed = regexp_replace(
      regexp_replace(planted, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(planted, lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(planted, lit(PhoneRe)).cast("long").as("n_phone"),
        length(scrubbed).cast("long").as("n_chars_scrubbed"),
        md5(scrubbed.cast("binary")).as("scrub_hash"))
  }

  object SqlOracle {
    private def toksE = S.tokens("text")

    val tokenCount: String =
      s"""SELECT doc_id,
         |  CAST(len($toksE) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe
         |FROM documents""".stripMargin

    val tokenizerStats: String =
      s"""WITH s AS (SELECT lang,
         |    CAST(len($toksE) AS BIGINT) AS n_toks,
         |    CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  ${S.rnd("CAST(sum(n_chars) AS BIGINT) / CAST(CAST(sum(n_toks) AS BIGINT) AS DOUBLE)", 4)} AS chars_per_token,
         |  ${S.rnd("CAST(sum(n_toks) AS BIGINT) / CAST(count(*) AS DOUBLE)", 4)} AS tokens_per_doc
         |FROM s GROUP BY lang""".stripMargin

    val langId: String = {
      val scores = markers.map { case (l, ws) =>
        s"CAST(len(list_filter($toksE, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS s_$l"
      }.mkString(",\n  ")
      val gr = s"greatest(${markers.map(m => s"s_${m._1}").mkString(", ")})"
      val pred = markers.foldRight("'und'") { case ((l, _), els) =>
        s"CASE WHEN s_$l >= $gr AND s_$l > 0 THEN '$l' ELSE $els END"
      }
      s"""SELECT doc_id, ${markers.map(m => s"s_${m._1}").mkString(", ")}, $pred AS pred_lang
         |FROM (SELECT doc_id, $scores FROM documents)""".stripMargin
    }

    val langConfusion: String =
      s"""WITH p AS ($langId)
         |SELECT d.lang, p.pred_lang, count(*) AS cnt
         |FROM p JOIN documents d USING (doc_id)
         |GROUP BY d.lang, p.pred_lang""".stripMargin

    val qualityScore: String = {
      val stop = markers.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CAST(len($toksE) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct($toksE)) AS BIGINT) AS n_uniq,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter($toksE, t -> t IN ($stop))) AS BIGINT) AS n_stop
         |  FROM documents)
         |SELECT doc_id, n_toks,
         |  (floor((n_uniq / CAST(n_toks AS DOUBLE)) * 1e4 + 0.5e0) / 1e4) AS uniq_ratio,
         |  (floor((
         |    0.25e0 * least(1.0e0, n_toks / 100.0e0) +
         |    0.35e0 * (n_uniq / CAST(n_toks AS DOUBLE)) +
         |    0.2e0 * least(1.0e0, ((n_chars - (n_toks - 1)) / CAST(n_toks AS DOUBLE)) / 8.0e0) +
         |    0.2e0 * (1.0e0 - n_stop / CAST(n_toks AS DOUBLE))) * 1e4 + 0.5e0) / 1e4) AS quality
         |FROM s""".stripMargin
    }

    def ngramFreq(topN: Int = 100): String =
      s"""WITH t AS (SELECT ${S.tokens("text")} AS toks FROM documents),
         |g AS (SELECT unnest([toks[i] || ' ' || toks[i+1]
         |                     for i in range(1, len(toks))]) AS gram FROM t)
         |SELECT gram, count(*) AS cnt FROM g
         |GROUP BY gram ORDER BY cnt DESC, gram LIMIT $topN""".stripMargin

    /** `qlp = Some((c2, c1+vocab, qlp))` (Verify's per-SF overlay)
      * swaps the in-SQL ln() for the operator-computed literal table,
      * joined on the (c2, c1+vocab) integer args the SQL still derives
      * itself — a count divergence still mismatches (the inner join
      * drops the row), but DuckDB evaluates no ln. `None` keeps the
      * self-contained two-level-quantized ln. */
    def bigramLmScore(qlp: Option[Seq[(Long, Long, Long)]] = None): String = {
      val qCte = qlp match {
        case Some(rows) =>
          val vals = rows.map { case (a, b, c) => s"($a, $b, $c)" }.mkString(", ")
          s"""q AS (
             |  SELECT doc_id, l.qlp
             |  FROM ge JOIN c2 USING (gram) JOIN c1 USING (w1) CROSS JOIN v
             |  JOIN (VALUES $vals) l(c2v, c1v, qlp)
             |    ON l.c2v = c2.c2 AND l.c1v = c1.c1 + vocab)""".stripMargin
        case None =>
          s"""q AS (
             |  SELECT doc_id,
             |    CAST(floor(ln((c2 + 1) / CAST(c1.c1 + vocab AS DOUBLE)) * 1e6 + 0.5e0) AS BIGINT) AS qlp
             |  FROM ge JOIN c2 USING (gram) JOIN c1 USING (w1) CROSS JOIN v)""".stripMargin
      }
      s"""WITH t AS (SELECT doc_id, ${S.tokens("text")} AS toks FROM documents),
         |ge AS (
         |  SELECT doc_id, s['w1'] AS w1, s['gram'] AS gram FROM (
         |    SELECT doc_id,
         |      unnest([{'w1': toks[i], 'gram': toks[i] || ' ' || toks[i+1]}
         |              for i in range(1, len(toks))]) AS s
         |    FROM t WHERE len(toks) >= 2)),
         |c1 AS (
         |  SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
         |v AS (SELECT count(*) AS vocab FROM c1),
         |c2 AS (SELECT gram, count(*) AS c2 FROM ge GROUP BY gram),
         |$qCte
         |SELECT doc_id, count(*) AS n_bigrams,
         |  ${S.rnd("CAST(sum(qlp) AS BIGINT) / count(*) / 1e6", 4)} AS lm_score
         |FROM q GROUP BY doc_id""".stripMargin
    }

    def vocabCoverage(vocabSize: Int = 1000): String =
      s"""WITH toks AS (
         |  SELECT lang, unnest(${S.tokens("text")}) AS tok FROM documents),
         |v AS (
         |  SELECT tok FROM (
         |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS r
         |    FROM toks GROUP BY tok) WHERE r <= $vocabSize)
         |SELECT toks.lang, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  ${S.rnd("CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) / CAST(count(*) AS DOUBLE)", 4)} AS oov_rate
         |FROM toks LEFT JOIN v ON toks.tok = v.tok
         |GROUP BY toks.lang""".stripMargin

    val normalize: String =
      """SELECT doc_id,
        |  CAST(length(n) AS BIGINT) AS n_chars_norm,
        |  md5(n) AS norm_hash
        |FROM (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS n
        |  FROM documents)""".stripMargin

    val piiScrub: String = {
      val planted = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
      val scrubbed = s"regexp_replace(regexp_replace($planted, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')"
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all($planted, '$EmailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all($planted, '$PhoneRe')) AS BIGINT) AS n_phone,
         |  CAST(length($scrubbed) AS BIGINT) AS n_chars_scrubbed,
         |  md5($scrubbed) AS scrub_hash
         |FROM documents""".stripMargin
    }

    /** Oracle in CLOSED FORM rather than a struct-state fold: DuckDB
      * 1.0's list_reduce mis-evaluates multi-field struct accumulators
      * (a (prev,run,mx,arg) fold over [b,b,b,a] returns mx=4 — fields
      * written earlier in the lambda's result struct alias into reads
      * of the accumulator), so the sorted-fold semantics are expressed
      * as what they reduce to: mx = the mode count, arg = the
      * lexicographically-smallest mode token (the fold's strict ">"
      * update fires first at the first sorted token reaching the global
      * max), and the original-order max run via run-boundary indices
      * (gaps-and-islands over the token list). */
    val repetitionStats: String =
      s"""WITH t AS (
         |  SELECT doc_id, $toksE AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
         |m AS (
         |  SELECT doc_id, tok AS top_tok, c AS mode_cnt
         |  FROM (SELECT doc_id, tok, c,
         |          row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS r FROM c)
         |  WHERE r = 1),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    list_concat([i for i in range(1, len(toks)+1) if i = 1 OR toks[i] <> toks[i-1]],
         |                [len(toks)+1]) AS b,
         |    [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bg
         |  FROM t)
         |SELECT f.doc_id, n_toks,
         |  coalesce(top_tok, '') AS top_tok,
         |  CASE WHEN n_toks > 0 THEN ${S.rnd("mode_cnt / CAST(n_toks AS DOUBLE)", 4)} ELSE 0.0e0 END AS top_tok_frac,
         |  CAST(coalesce(list_max([b[i+1] - b[i] for i in range(1, len(b))]), 0) AS BIGINT) AS max_run,
         |  CASE WHEN len(bg) > 0 THEN ${S.rnd("(len(bg) - len(list_distinct(bg))) / CAST(len(bg) AS DOUBLE)", 4)} ELSE 0.0e0 END AS dup_2gram_frac
         |FROM f LEFT JOIN m ON f.doc_id = m.doc_id""".stripMargin

    val entropy: String = {
      // 1-indexed literal log2 table, identical values to the plan's
      val tbl = log2Table.map(v => s"${v}e0").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, $toksE AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, toks,
         |    [CAST(len(list_filter(toks, x -> x = u)) AS BIGINT)
         |     for u in list_distinct(toks)] AS cnts
         |  FROM t),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(len(cnts) AS BIGINT) AS n_uniq,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(floor(CAST(c AS DOUBLE) *
         |         ($tbl)[CAST(least(c, ${EntropyCap}) AS INT)] * 1e6 + 0.5e0) AS BIGINT)
         |       for c in cnts]),
         |      (a, b) -> a + b) AS BIGINT) AS sfx
         |  FROM c)
         |SELECT doc_id, n_toks, n_uniq,
         |  CASE WHEN n_toks > 0 THEN
         |    ${S.rnd(s"($tbl)[CAST(least(n_toks, ${EntropyCap}) AS INT)] - (sfx / 1e6) / n_toks", 4)}
         |  ELSE 0.0e0 END AS entropy
         |FROM f""".stripMargin
    }

    val fingerprint: String =
      s"""SELECT doc_id,
         |  ${S.polyHash("text", 131)} AS fp_text,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [${S.polyHash("t")} for t in $toksE]),
         |    (h, t) -> (h * 1000003 + t) % ${HashP}) AS fp_tokens
         |FROM documents""".stripMargin
  }
}
