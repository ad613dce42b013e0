package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, processed in per-partition batches. The decode step
  * is a clearly-marked deterministic STUB (no image/audio libs ship in
  * this container — SURVEY.md §2); the Spark-side plumbing (schema,
  * batching, partition-local processing) is real.
  */
object Multimodal {

  /** A media row: payload plus typed metadata. */
  case class MediaRow(media_id: Long, payload: Array[Byte], mime: String, n_bytes: Long)

  /** Extracted feature row. */
  case class MediaFeature(media_id: Long, n_bytes: Long, checksum: Long, feat0: Double)

  /** Builds a media frame from the documents table (text bytes standing
    * in for image/audio payloads). */
  def mediaFrame(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .as[MediaRow]
  }

  /** STUB decode: stands in for an image/audio decoder. Deterministic:
    * byte-sum checksum + a fake first feature. A real deployment swaps
    * this single function for the actual codec; the batched
    * `mapPartitions` plumbing around it is unchanged. */
  def stubDecode(payload: Array[Byte]): (Long, Double) = {
    var s = 0L
    var i = 0
    while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
    (s, (s % 997).toDouble / 997.0)
  }

  /** Partition-local batched feature extraction — the shape a Pandas-UDF
    * / Arrow batch pipeline takes, expressed as typed mapPartitions so
    * each task amortizes decoder setup across its whole partition. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (once per task)
      rows.map { r =>
        val (checksum, feat0) = stubDecode(r.payload)
        MediaFeature(r.media_id, r.n_bytes, checksum, feat0)
      }
    }
  }

  /** Per-frame feature row (frame sampling output). */
  case class FrameFeature(media_id: Long, frame_no: Long, checksum: Long, feat: Double)

  /** Frame sampling — the video-pipeline shape: the payload is sliced
    * into fixed `frameBytes` windows and every `step`-th frame is
    * decoded (stub) into features, exploding one row per sampled frame.
    * Linear in payload bytes, partition-local (decoder init amortized
    * per task), output rows carry (media_id, frame_no) so downstream
    * joins/aggregations stay relational. */
  def frameFeatures(media: Dataset[MediaRow], frameBytes: Int = 64,
                    step: Int = 2): Dataset[FrameFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (once per task)
      rows.flatMap { r =>
        val nFrames = (r.payload.length + frameBytes - 1) / frameBytes
        (0 until nFrames by step).iterator.map { f =>
          val from = f * frameBytes
          val until = math.min(from + frameBytes, r.payload.length)
          var s = 0L
          var i = from
          while (i < until) { s += r.payload(i) & 0xff; i += 1 }
          FrameFeature(r.media_id, f.toLong, s, (s % 997).toDouble / 997.0)
        }
      }
    }
  }

  /** STUB resize: payload downsampled by `factor` (every factor-th
    * byte), metadata updated — stands in for an image resize/thumbnail
    * pass. Same mapPartitions batch plumbing as [[extractFeatures]];
    * a real resampler replaces only the array construction. */
  def resizePayload(media: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    require(factor >= 1, s"factor must be >= 1, got $factor")
    media.mapPartitions { rows =>
      rows.map { r =>
        val out = Array.tabulate(r.payload.length / factor)(i => r.payload(i * factor))
        r.copy(payload = out, n_bytes = out.length.toLong)
      }
    }
  }

  /** A media embedding row (stub modality encoder output). */
  case class MediaVec(media_id: Long, m_vec: Array[Float])

  /** STUB modality encoder: payload → 64-dim vector of strided byte
    * sums (v[j] = Σ of unsigned bytes at positions ≡ j mod 64). Sums
    * are integer-valued and < 2²⁴, so the float cast is exact and the
    * oracle's double arithmetic matches bit-for-bit. A real CLIP-style
    * encoder replaces this one function; the batched plumbing and the
    * retrieval plan are unchanged. */
  def stubEmbed(payload: Array[Byte], dim: Int = 64): Array[Float] = {
    val acc = new Array[Long](dim)
    var i = 0
    while (i < payload.length) { acc(i % dim) += payload(i) & 0xff; i += 1 }
    val v = new Array[Float](dim)
    i = 0
    while (i < dim) { v(i) = acc(i).toFloat; i += 1 }
    v
  }

  /** Batched media → embedding encoding (per-partition model init,
    * same mapPartitions shape as [[extractFeatures]]). */
  def embedMedia(media: Dataset[MediaRow], dim: Int = 64): Dataset[MediaVec] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition encoder/model init would go here (once per task)
      rows.map(r => MediaVec(r.media_id, stubEmbed(r.payload, dim)))
    }
  }

  /** Cross-modal retrieval, end-to-end: stub-encode the first `nMedia`
    * media payloads into vectors, then exact top-k dot-product search
    * against the embedding corpus — the media side is tiny and
    * broadcast, the corpus side is the standard scored scan, so the
    * plan is identical to [[Knn.bruteForce]] with an encoder in front
    * (and the ANN operators drop in the same way at 100 TB). */
  def embedSearch(spark: SparkSession, dir: String, k: Int = Knn.K,
                  nMedia: Int = 20): DataFrame = {
    val q = embedMedia(mediaFrame(spark, dir).filter(col("media_id") < nMedia))
      .toDF().select(col("media_id").as("q_id"), col("m_vec"))
    val scored = Knn.docSet(spark, dir).crossJoin(broadcast(q))
      .select(col("q_id"), col("doc_id"),
        dot(col("m_vec"), col("doc_vec")).as("score"))
    Knn.topKPerQuery(scored, k)
      .select(col("q_id").as("media_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("media_id", "rank"))
  }

  /** Modality headers planted on the text corpus — 4 ASCII bytes each
    * (standing in for JPEG/RIFF/ftyp magic bytes) so the oracle can
    * plant and sniff the identical prefix. */
  val ModalityHeaders: Seq[(String, String)] =
    Seq("IMG0" -> "image", "AUD0" -> "audio", "VID0" -> "video")

  /** Mixed-modality corpus: each payload gets a deterministic magic-
    * byte header by doc_id (the corpus has one real modality, so the
    * query PLANTS the mix it must then route — the piiScrub pattern). */
  def mixedMediaFrame(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val hdr = element_at(
      array(ModalityHeaders.map(h => lit(h._1)): _*),
      (pmod(col("doc_id"), lit(3L)) + 1).cast("int"))
    // a null doc still routes by its header: empty body, not null row
    val body = coalesce(col("text"), lit("")).cast("binary")
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        concat(hdr.cast("binary"), body).as("payload"),
        lit("application/octet-stream").as("mime"),
        (octet_length(body) + lit(4)).cast("long").as("n_bytes"))
      .as[MediaRow]
  }

  /** Routed per-modality feature row. */
  case class RoutedFeature(media_id: Long, modality: String, n_bytes: Long,
                           checksum: Long, feat: Double)

  /** Magic-byte modality routing + per-modality feature extraction in
    * ONE partition-local pass — the mixed-modality ingest shape: the
    * router sniffs the payload header (as a real pipeline sniffs
    * FFD8/RIFF/ftyp), dispatches to the modality's (stub) decoder, and
    * emits a uniform feature schema; adding a modality = one more
    * dispatch arm, no plan change. Zero shuffle, decoder init amortized
    * per partition. */
  def routeModalities(media: Dataset[MediaRow]): Dataset[RoutedFeature] = {
    import media.sparkSession.implicits._
    val headers = ModalityHeaders.toMap
    media.mapPartitions { rows =>
      // per-partition decoder inits (one per modality) would go here
      rows.map { r =>
        val hdr = new String(r.payload.take(4), java.nio.charset.StandardCharsets.US_ASCII)
        val modality = headers.getOrElse(hdr, "unknown")
        val body = r.payload.drop(4)
        var s = 0L
        var i = 0
        while (i < body.length) { s += body(i) & 0xff; i += 1 }
        val feat = modality match {
          case "image" => (s % 997).toDouble / 997.0
          case "audio" => (s % 101).toDouble / 101.0
          case "video" => ((body.length + 63) / 64).toDouble // frame count
          case _ => 0.0
        }
        RoutedFeature(r.media_id, modality, body.length.toLong, s, feat)
      }
    }
  }

  /** Verified mixed-modality routing query. */
  def modalityRoute(spark: SparkSession, dir: String): DataFrame =
    routeModalities(mixedMediaFrame(spark, dir)).toDF()
      .select(col("media_id"), col("modality"), col("n_bytes"),
        col("checksum"), rnd(col("feat"), 4).as("feat"))

  /** Verified frame-sampling query (every 2nd 64-byte frame). */
  def frameFeaturesQ(spark: SparkSession, dir: String): DataFrame =
    frameFeatures(mediaFrame(spark, dir)).toDF()
      .select(col("media_id"), col("frame_no"), col("checksum"),
        rnd(col("feat"), 4).as("feat"))

  /** Verified projection: scalar metadata + stub features; the byte-sum
    * checksum is mirrored in SQL over the utf8 payload. */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaFrame(spark, dir)).toDF()
      .select(col("media_id"), col("n_bytes"), col("checksum"),
        rnd(col("feat0"), 4).as("feat0"))

  object SqlOracle {
    /** ASCII corpus: byte-sum == codepoint-sum of chars. */
    val binaryMeta: String =
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(unicode(c) AS BIGINT) for c in string_split(text, '')]),
        |      (a, x) -> a + x) AS BIGINT) AS checksum
        |  FROM documents)
        |SELECT media_id, n_bytes, checksum,
        |  (floor((CAST(checksum % 997 AS DOUBLE) / 997.0) * 1e4 + 0.5e0) / 1e4) AS feat0
        |FROM f""".stripMargin

    /** Strided byte-sum embedding + exact top-k (ASCII corpus: byte ==
      * codepoint; stepped-range nested comprehension mirrors the stub
      * encoder's i % 64 accumulation exactly). */
    val embedSearch: String = {
      val dim = 64
      val mvec = s"[CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"[CAST(unicode(t[i]) AS BIGINT) for i in range(j+1, len(t)+1, $dim)]), " +
        s"(a,x) -> a + x) AS DOUBLE) for j in range(0, $dim)]"
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, $mvec AS m_vec
         |  FROM (SELECT doc_id, string_split(text, '') AS t FROM documents)
         |  WHERE doc_id < ${Knn.NQueries}),
         |d AS ${Knn.SqlOracle.docsCte()},
         |scored AS (
         |  SELECT media_id, doc_id, ${graft.functions.Sql.dot("m_vec", "doc_vec", dim)} AS score
         |  FROM d CROSS JOIN m),
         |ranked AS (
         |  SELECT media_id, doc_id, score,
         |    row_number() OVER (PARTITION BY media_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT media_id, CAST(rank AS BIGINT) AS rank, doc_id,
         |  (floor((score) * 1e4 + 0.5e0) / 1e4) AS score
         |FROM ranked WHERE rank <= ${Knn.K}
         |ORDER BY media_id, rank""".stripMargin
    }

    /** Mixed-modality routing: the same header plant + sniff + body
      * byte-sum, per-modality feature arms mirrored. Unlike the older
      * ASCII-assuming oracles, the checksum here is the true UTF-8
      * BYTE sum derived from each codepoint (a codepoint's UTF-8 bytes
      * are closed-form in the codepoint), so the contract holds on
      * non-ASCII text too. */
    val modalityRoute: String = {
      val hdrCase = "CASE media_id % 3 WHEN 0 THEN 'IMG0' WHEN 1 THEN 'AUD0' ELSE 'VID0' END"
      val modCase = ModalityHeaders.map { case (h, m) =>
        s"WHEN '$h' THEN '$m'"
      }.mkString("CASE hdr ", " ", " ELSE 'unknown' END")
      // sum of the UTF-8 encoding bytes of codepoint c
      val utf8Sum = "CASE WHEN c < 128 THEN c " +
        "WHEN c < 2048 THEN 192 + (c // 64) + 128 + (c % 64) " +
        "WHEN c < 65536 THEN 224 + (c // 4096) + 128 + ((c // 64) % 64) + 128 + (c % 64) " +
        "ELSE 240 + (c // 262144) + 128 + ((c // 4096) % 64) + 128 + ((c // 64) % 64) + 128 + (c % 64) END"
      s"""WITH p AS (
         |  SELECT doc_id AS media_id, $hdrCase || coalesce(text, '') AS pt FROM documents),
         |r AS (
         |  SELECT media_id, substr(pt, 1, 4) AS hdr, substr(pt, 5) AS body FROM p),
         |c AS (
         |  SELECT media_id, $modCase AS modality,
         |    CAST(octet_length(encode(body)) AS BIGINT) AS n_bytes,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST($utf8Sum AS BIGINT) for c in
         |       [CAST(unicode(ch) AS BIGINT) for ch in string_split(body, '')]]),
         |      (a, x) -> a + x) AS BIGINT) AS checksum
         |  FROM r)
         |SELECT media_id, modality, n_bytes, checksum,
         |  (floor((CASE modality
         |     WHEN 'image' THEN CAST(checksum % 997 AS DOUBLE) / 997.0
         |     WHEN 'audio' THEN CAST(checksum % 101 AS DOUBLE) / 101.0
         |     WHEN 'video' THEN CAST((n_bytes + 63) // 64 AS DOUBLE)
         |     ELSE 0.0e0 END) * 1e4 + 0.5e0) / 1e4) AS feat
         |FROM c""".stripMargin
    }

    /** ASCII corpus: frame byte-sums == codepoint-sums of substrings. */
    val frameFeatures: String =
      """WITH d AS (
        |  SELECT doc_id AS media_id, text,
        |    CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS nf
        |  FROM documents),
        |fr AS (
        |  SELECT media_id, unnest(range(0, nf, 2)) AS frame_no, text FROM d),
        |c AS (
        |  SELECT media_id, frame_no,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(unicode(ch) AS BIGINT)
        |       for ch in string_split(substr(text, CAST(frame_no * 64 + 1 AS INT), 64), '')]),
        |      (a, x) -> a + x) AS BIGINT) AS checksum
        |  FROM fr)
        |SELECT media_id, frame_no, checksum,
        |  (floor((CAST(checksum % 997 AS DOUBLE) / 997.0) * 1e4 + 0.5e0) / 1e4) AS feat
        |FROM c""".stripMargin
  }
}
