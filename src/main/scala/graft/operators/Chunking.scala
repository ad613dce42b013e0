package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Sliding-window document chunking and chunk-level passage retrieval.
  *
  * The reference encodes whole documents (embeddings/encoder.py:93-103)
  * and its "chunking" is batch I/O (auto_run_tests.py:52,109 memmap
  * chunk_size) — but a production vector-search ingest over long
  * documents chunks them into overlapping token windows and retrieves
  * at chunk granularity with document-level score pooling (the
  * passage-retrieval pattern). This module supplies that step as
  * verified, shuffle-conscious plans:
  *
  *  - [[chunkSliding]]: doc → overlapping W-token windows with stride
  *    S — pure per-row explode, zero shuffles; chunk count per doc is
  *    ceil((n−W)/S)+1 so every token is covered and consecutive
  *    windows overlap by W−S tokens.
  *  - [[chunkSearch]]: hashing-TF encode every chunk, cosine top-k of
  *    full-document query vectors against chunks via the same sparse
  *    inverted-index bucket join as [[Encoders.hashingSearch]], then
  *    max-pool chunk scores per document. The shuffle carries only
  *    sparse postings; queries broadcast. At 100 TB the chunk relation
  *    is ~n/S× the corpus rows but each row is a W-token window, so
  *    the postings volume stays ~W/S× the whole-doc pipeline — linear,
  *    no new join shape.
  */
object Chunking {
  /** Window length in tokens. */
  val W = 16
  /** Stride in tokens; W − Stride tokens of overlap between chunks. */
  val Stride = 8

  /** (doc_id, chunk_id, start_tok, chunk_toks) for ANY frame with
    * (doc_id, text) — pure narrow ops, so it applies unchanged to a
    * streaming ingest frame ([[graft.streaming.StreamOps.chunkStream]]).
    * `chunk_toks` is materialized once per row (a projection, not
    * repeated HOF re-evaluation) so downstream size/join/explode reuse
    * it. */
  def chunkToksOf(docs: DataFrame, w: Int = W, s: Int = Stride): DataFrame = {
    // every non-text column rides along (e.g. the event-time column a
    // streaming caller watermarks on)
    val keep = docs.columns.filter(_ != "text").map(col)
    docs
      .select(keep :+ tokens(col("text")).as("_toks"): _*)
      .withColumn("_n", size(col("_toks")).cast("long"))
      .withColumn("_n_chunks",
        when(col("_n") <= w, lit(1L))
          .otherwise(ceil((col("_n") - w) / s.toDouble).cast("long") + 1L))
      .select(keep :+ col("_toks") :+
        explode(sequence(lit(0L), col("_n_chunks") - 1)).as("chunk_id"): _*)
      .select(keep :+ col("chunk_id") :+
        (col("chunk_id") * s).as("start_tok") :+
        slice(col("_toks"), (col("chunk_id") * s + 1).cast("int"),
          lit(w)).as("chunk_toks"): _*)
  }

  /** [[chunkToksOf]] plus the rendered window: (…, chunk_id, start_tok,
    * n_tokens, chunk_text) — the shared projection of [[chunkSliding]]
    * and the streaming chunker. */
  def chunkRows(docs: DataFrame, w: Int = W, s: Int = Stride): DataFrame = {
    val ct = chunkToksOf(docs, w, s)
    val keep = ct.columns.filter(_ != "chunk_toks").map(col)
    ct.select(keep :+
      size(col("chunk_toks")).cast("long").as("n_tokens") :+
      array_join(col("chunk_toks"), " ").as("chunk_text"): _*)
  }

  /** Verified chunk inventory: one row per (doc, window) with the
    * window's start offset, actual token count (the last window may be
    * short) and re-joined text. */
  def chunkSliding(spark: SparkSession, dir: String,
                   w: Int = W, s: Int = Stride): DataFrame =
    chunkRows(Tables.documents(spark, dir).select("doc_id", "text"), w, s)

  /** Chunk-level retrieval with doc-level max-pooling: query docs
    * (doc_id < nq, whole-document hashing-TF as in the reference's
    * query path) scored against every chunk of every other document;
    * a document's score is its best chunk's cosine. Output shape
    * matches the other search queries: (q_id, rank, doc_id, score). */
  def chunkSearch(spark: SparkSession, dir: String, k: Int = 10,
                  nq: Int = 5, dim: Int = Encoders.Dim,
                  w: Int = W, s: Int = Stride): DataFrame = {
    val cn = chunkPostings(spark, dir, dim, w, s)
      .filter(col("doc_id") >= nq)
    // query side rides the map-side postings projection (r16): the
    // doc_id < nq filter pushes to the scan and the norm is an in-row
    // fold — no window, no exchange (see Encoders.postingsOf)
    val qc = Encoders.postingsOf(
        graft.Tables.documents(spark, dir).select("doc_id", "text"), dim)
      .filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("bucket"),
        col("cnt").as("qcnt"), col("norm").as("qn"))
    chunkScorePool(cn, qc, k)
  }

  /** (doc_id, chunk_id, bucket, cnt, norm) — the ONE chunk-postings
    * derivation behind the in-plan search and the persisted index. */
  private def chunkPostings(spark: SparkSession, dir: String, dim: Int,
                            w: Int, s: Int): DataFrame =
    chunkPostingsOf(Tables.documents(spark, dir).select("doc_id", "text"),
      dim, w, s)

  /** Chunk postings of an arbitrary (doc_id, text) frame (norms are
    * per-CHUNK windows, so they are computable from any batch
    * alone). */
  private def chunkPostingsOf(docs: DataFrame, dim: Int, w: Int,
                              s: Int): DataFrame =
    // map-side encode per chunk row (r16, the Encoders.postingsOf
    // shape): one-pass (bucket, cnt) kernel + in-row norm fold —
    // the pre-r16 explode → groupBy(doc, chunk, bucket) →
    // window(norm) paid TWO corpus-sized exchanges per build
    chunkToksOf(docs, w, s)
      .select(col("doc_id"), col("chunk_id"),
        graft.functions.native.bucketCounts(col("chunk_toks"), dim).as("_bcs"))
      // norm below the explode, own projection — same per-generated-row
      // evaluation hazard as Encoders.postingsOf (see comment there)
      .select(col("doc_id"), col("chunk_id"), col("_bcs"),
        sqrt(aggregate(col("_bcs"), lit(0L),
          (a, x) => a + x.getField("cnt") * x.getField("cnt"))
          .cast("double")).as("norm"))
      // explode_outer + null filter: see Encoders.bucketCountsOf —
      // an inner explode's inferred non-empty filter would clone the
      // kernel expression below this projection
      .select(col("doc_id"), col("chunk_id"), col("norm"),
        explode_outer(col("_bcs")).as("bc"))
      .filter(col("bc").isNotNull)
      .select(col("doc_id"), col("chunk_id"), col("bc.bucket").as("bucket"),
        col("bc.cnt").as("cnt"), col("norm"))

  /** The shared score-and-pool tail: per-chunk cosine via the shared
    * sparse contract, max-pool per document, ranked top-k. */
  private def chunkScorePool(cn: DataFrame, qc: DataFrame, k: Int): DataFrame = {
    val chunkScore = Encoders.sparseCosine(cn, qc, Seq("doc_id", "chunk_id"))
    val docScore = chunkScore.groupBy("q_id", "doc_id")
      .agg(max(col("score")).as("score"))
    Encoders.rankTopK(docScore, k)
  }

  /** Persisted chunk-postings index — the passage-retrieval serving
    * layout ([[graft.operators.Encoders.writeHashingIndex]]'s chunk-
    * granularity sibling): every chunk's integer bucket counts and
    * exact-integer-squares norm land durable at ingest time. */
  def writeChunkIndex(spark: SparkSession, dir: String, out: String,
                      dim: Int = Encoders.Dim, w: Int = W,
                      s: Int = Stride): Unit =
    chunkPostings(spark, dir, dim, w, s).write.mode("overwrite").parquet(out)

  /** Chunk-level retrieval from persisted layouts: chunk postings from
    * a [[writeChunkIndex]], whole-document QUERY vectors from the
    * doc-level hashing index (same dim, same exact counts/norms) — no
    * tokenize, no window anywhere in the hot path; bit-identical to
    * [[chunkSearch]] (spec-asserted). */
  def chunkSearchIndexed(spark: SparkSession, chunkIndexPath: String,
                         docIndexPath: String, k: Int = 10,
                         nq: Int = 5): DataFrame = {
    val cn = spark.read.parquet(chunkIndexPath).filter(col("doc_id") >= nq)
    val qc = spark.read.parquet(docIndexPath).filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("bucket"),
        col("cnt").as("qcnt"), col("norm").as("qn"))
    chunkScorePool(cn, qc, k)
  }

  /** [[chunkSearchIndexed]] over memoized scratch builds of BOTH
    * layouts — the verified-query form (`pipeline_chunk_indexed`). */
  def chunkSearchViaIndex(spark: SparkSession, dir: String, k: Int = 10,
                          nq: Int = 5, dim: Int = Encoders.Dim,
                          w: Int = W, s: Int = Stride): DataFrame = {
    val cPath = graft.Memo.scratch(spark, "graft-cidx", dir, dim, w, s)(
      writeChunkIndex(spark, dir, _, dim, w, s))
    chunkSearchIndexed(spark, cPath,
      Encoders.hashingIndexPath(spark, dir, dim), k, nq)
  }

  /** Boilerplate-passage detection: exact dedup at CHUNK granularity
    * (the training-data step that catches repeated headers, footers
    * and licence blocks that doc-level dedup can't see — each host
    * document is unique, the passage is not). One hash-groupBy over
    * the chunk relation, emitted only for passages seen more than
    * once, so the output is the boilerplate inventory, not the
    * corpus: bounded by the duplicate mass at any scale. */
  def chunkDedup(spark: SparkSession, dir: String,
                 w: Int = W, s: Int = Stride): DataFrame =
    chunkRows(Tables.documents(spark, dir).select("doc_id", "text"), w, s)
      .groupBy(md5(col("chunk_text").cast("binary")).as("chunk_hash"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc_id"))
      .filter(col("cnt") > 1)

  object SqlOracle {
    /** DuckDB mirror of the chunk relation: 1-based inclusive list
      * slicing `toks[a : a+w−1]` ≡ Spark `slice(toks, a, w)` (both
      * clamp at the list end). */
    private def chunksCte(w: Int, s: Int): String =
      s"""t AS (SELECT doc_id, ${S.tokens("text")} AS toks FROM documents),
         |nn AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
         |nc AS (SELECT doc_id, toks, n,
         |  CASE WHEN n <= $w THEN 1
         |       ELSE CAST(ceil((n - $w) / $s.0) AS BIGINT) + 1 END AS n_chunks
         |  FROM nn),
         |ex AS (SELECT doc_id, toks,
         |  unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM nc),
         |chunks AS (SELECT doc_id, chunk_id,
         |  CAST(chunk_id * $s AS BIGINT) AS start_tok,
         |  toks[chunk_id * $s + 1 : chunk_id * $s + $w] AS chunk_toks
         |  FROM ex)""".stripMargin

    def chunkDedup(w: Int = W, s: Int = Stride): String =
      s"""WITH ${chunksCte(w, s)},
         |rendered AS (SELECT doc_id,
         |  array_to_string(chunk_toks, ' ') AS chunk_text FROM chunks)
         |SELECT md5(chunk_text) AS chunk_hash,
         |  count(*) AS cnt,
         |  count(DISTINCT doc_id) AS n_docs,
         |  min(doc_id) AS keep_doc_id
         |FROM rendered GROUP BY chunk_hash HAVING count(*) > 1""".stripMargin

    def chunkSliding(w: Int = W, s: Int = Stride): String =
      s"""WITH ${chunksCte(w, s)}
         |SELECT doc_id, chunk_id, start_tok,
         |  CAST(len(chunk_toks) AS BIGINT) AS n_tokens,
         |  array_to_string(chunk_toks, ' ') AS chunk_text
         |FROM chunks""".stripMargin

    def chunkSearch(k: Int = 10, nq: Int = 5, dim: Int = Encoders.Dim,
                    w: Int = W, s: Int = Stride): String =
      s"""WITH ${chunksCte(w, s)},
         |cb AS (SELECT doc_id, chunk_id,
         |  ${S.polyHash("tok")} % $dim AS bucket
         |  FROM (SELECT doc_id, chunk_id, unnest(chunk_toks) AS tok
         |        FROM chunks WHERE doc_id >= $nq)),
         |cc AS (SELECT doc_id, chunk_id, bucket, count(*) AS cnt
         |       FROM cb GROUP BY doc_id, chunk_id, bucket),
         |cw AS (SELECT doc_id, chunk_id, bucket, cnt,
         |  sqrt(CAST(sum(cnt * cnt) OVER (PARTITION BY doc_id, chunk_id) AS BIGINT)) AS cnorm
         |  FROM cc),
         |qt AS (SELECT doc_id, unnest(${S.tokens("text")}) AS tok
         |       FROM documents WHERE doc_id < $nq),
         |qb AS (SELECT doc_id, ${S.polyHash("tok")} % $dim AS bucket FROM qt),
         |qcc AS (SELECT doc_id, bucket, count(*) AS cnt
         |        FROM qb GROUP BY doc_id, bucket),
         |qw AS (SELECT doc_id AS q_id, bucket, cnt AS qcnt,
         |  sqrt(CAST(sum(cnt * cnt) OVER (PARTITION BY doc_id) AS BIGINT)) AS qn
         |  FROM qcc),
         |ips AS (
         |  SELECT q_id, doc_id, chunk_id,
         |    CAST(sum(qcnt * cnt) AS BIGINT) AS ip,
         |    any_value(qn) AS qn, any_value(cnorm) AS cnorm
         |  FROM cw JOIN qw USING (bucket)
         |  GROUP BY q_id, doc_id, chunk_id),
         |cs AS (SELECT q_id, doc_id, ip / (qn * cnorm) AS score FROM ips),
         |ds AS (SELECT q_id, doc_id, max(score) AS score
         |       FROM cs GROUP BY q_id, doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY score DESC, doc_id) AS rank
         |  FROM ds)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id,
         |  ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin
  }
}
