package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers/writers for the reference's on-disk data shapes (ref:
  * data layout in PROJECT_DOCUMENTATION.txt §2 — `documents_{n}.jsonl`,
  * `queries.jsonl`, `qrels.json`, CSV/JSON result summaries under
  * experiments/results/).
  *
  * All readers hand Spark an explicit schema so the scan never pays a
  * sampling pass, and all are plain `spark.read` plans — partitioned
  * and predicate-pushable.
  */
object Sources {

  /** {"id": ..., "text": ..., "category": ..., "timestamp": ...,
    * "source": ...} per line (ref weaviate/client.py:28-35 schema). */
  val documentSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("text", StringType),
    StructField("category", StringType),
    StructField("timestamp", StringType),
    StructField("source", StringType)))

  val querySchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("query", StringType)))

  def readDocumentsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentSchema).json(path)

  def readQueriesJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(querySchema).json(path)

  /** qrels.json is one object {qid: [docid, ...]} (ref
    * auto_run_tests.py:509-510); exploded to (q_id, doc_id) rows.
    * A whole-file JSON object is driver-light but single-record, so it
    * is read in wholeText mode and exploded distributively. */
  def readQrelsJson(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(path)
    raw.select(explode(
        from_json(col("value"), MapType(StringType, ArrayType(StringType)))).as(Seq("q_id", "docs")))
      .select(col("q_id"), explode(col("docs")).as("doc_id"))
  }

  /** Writes a documents frame in the ref's JSONL corpus layout
    * (one {"id","text","category","timestamp","source"} object per
    * line) — the inverse of [[readDocumentsJsonl]], so the engine can
    * hand corpora back to reference tooling. */
  def writeDocumentsJsonl(df: DataFrame, path: String): Unit =
    df.select(col("id"), col("text"), col("category"),
        col("timestamp"), col("source"))
      .write.mode("overwrite").json(path)

  /** Events-log CSV layout (interchange with the ref's timing-log CSV
    * exports): microsecond timestamp format on both sides so a
    * round-trip is lossless against the µs-pinned parquet reader. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Both timestamp format options are always set: a TIMESTAMP_NTZ `ts`
    * (what the 2026-08 parquet refresh hands a caller that skips
    * [[graft.Tables.normalizeEventTs]]) is governed by
    * `timestampNTZFormat`, NOT `timestampFormat` — without it the write
    * emits ISO-'T' strings the µs-pinned reader schema can't parse and
    * every round-tripped ts comes back NULL. */
  def writeEventsCsv(df: DataFrame, path: String): Unit =
    df.select(eventSchema.fieldNames.map(col): _*)
      .write.mode("overwrite").option("header", "true")
      .option("timestampFormat", TsFmt)
      .option("timestampNTZFormat", TsFmt).csv(path)

  def readEventsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema).option("header", "true")
      .option("timestampFormat", TsFmt)
      .option("timestampNTZFormat", TsFmt).csv(path)

  /** Result summaries as CSV with header (the shape of the ref's
    * experiments/results/h3_summary_by_n_docs.csv). */
  def writeSummaryCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Renders a SMALL summary frame as a GitHub-markdown report file —
    * the shape of the ref's generate_h1_report.py / produce_h*_summary
    * markdown emitters (title, row count, aligned table). Presentation
    * layer by design: the frame must already be an aggregated summary
    * (the collect is the driver-side final step, same contract as
    * writeSummaryCsv's coalesce(1)); `maxRows` guards against someone
    * pointing it at a fact table. */
  def writeMarkdownReport(df: DataFrame, path: String, title: String,
                          maxRows: Int = 1000): Unit = {
    val cols = df.columns.toSeq
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"writeMarkdownReport is for summary frames (> $maxRows rows); aggregate first")
    def cell(v: Any): String = v match {
      case null => ""
      case a: Array[_] => a.mkString("[", ", ", "]")
      case s: scala.collection.Seq[_] => s.mkString("[", ", ", "]")
      case x => x.toString.replace("|", "\\|").replace("\n", " ")
    }
    val header = cols.mkString("| ", " | ", " |")
    val rule = cols.map(_ => "---").mkString("| ", " | ", " |")
    val body = rows.map(r =>
      cols.indices.map(i => cell(r.get(i))).mkString("| ", " | ", " |"))
    val md = (Seq(s"# $title", "", s"${rows.length} rows", "", header, rule) ++ body)
      .mkString("", "\n", "\n")
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, md)
  }

  def readSummaryCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  // ---------- Verified round-trip queries (SURVEY §2) ----------
  // The readers/writers above are exercised by unit tests; these two
  // queries additionally push REAL table data through the CSV/JSONL
  // formats inside a verified plan, so format fidelity (timestamp
  // precision, double round-trip, JSON string escaping) is part of the
  // oracle contract, not just test coverage.

  // round-trip scratch is removed at JVM exit (graft.Cleanup): the
  // path is deterministic per (JVM, input dir) — stable within a JVM
  // so re-runs overwrite rather than accumulate, but pid-qualified so
  // two JVMs sharing one input dir (say, a parent and a child
  // JVM) never share a base one's shutdown sweep could delete out
  // from under the other mid-round-trip
  // a crashed JVM (no shutdown hook) would leak its pid-qualified dirs
  // forever; the first scratch use of each JVM sweeps siblings whose
  // pid is no longer alive (ADVICE r10). Best-effort: a sweep race
  // against a just-started JVM is impossible because a live pid is
  // never swept, and IO failures are ignored like Cleanup's own.
  private lazy val sweepStale: Unit = {
    import scala.util.control.NonFatal
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val self = java.lang.ProcessHandle.current().pid()
    try {
      val listing = java.nio.file.Files.list(tmp)
      try {
        val it = listing.iterator()
        while (it.hasNext) {
          val p = it.next()
          val name = p.getFileName.toString
          if (name.startsWith("graft-roundtrip-")) {
            val pid = name.stripPrefix("graft-roundtrip-").takeWhile(_.isDigit)
            val dead = pid.nonEmpty && pid.toLong != self &&
              !java.lang.ProcessHandle.of(pid.toLong).isPresent
            // per-directory try (ADVICE r11): two JVMs racing to sweep
            // the same dead dir hit NoSuchFileException mid-walk — that
            // must not abort the REST of the sweep; and only NonFatal
            // is swallowed (an OOM/interrupt propagates)
            if (dead) try {
              import java.nio.file.{Files, Path}
              Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
                .forEach(q => Files.deleteIfExists(q))
            } catch { case NonFatal(_) => }
          }
        }
      } finally listing.close()
    } catch { case NonFatal(_) => }
  }

  /** This JVM's round-trip scratch path for (dir, leaf). */
  private[graft] def scratch(dir: String, leaf: String): String = {
    sweepStale
    val pid = java.lang.ProcessHandle.current().pid()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-roundtrip-$pid-${math.abs(dir.hashCode)}"
    graft.Cleanup.onExit(java.nio.file.Paths.get(base))
    s"$base/$leaf"
  }

  private val scratchLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** One round trip through this JVM's scratch path for (dir, leaf):
    * `write` puts the table there, `summarize` reads it back and
    * aggregates it, and the summary's rows come back as a local frame.
    * The path is reused by every call, so nothing of the result may
    * read it after the call returns, and callers that share it take
    * turns: a frame built earlier never reads files a later call has
    * overwritten. */
  private def roundTrip(spark: SparkSession, dir: String, leaf: String)(
      write: String => Unit)(summarize: String => DataFrame): DataFrame = {
    val path = scratch(dir, leaf)
    scratchLocks.computeIfAbsent(path, _ => new Object).synchronized {
      write(path)
      val summary = summarize(path)
      spark.createDataFrame(summary.collectAsList(), summary.schema)
    }
  }

  /** events parquet → CSV → read back → per-type summary. The summary
    * is computed from the ROUND-TRIPPED frame while the oracle reads
    * the original parquet, so any lossy formatting (µs timestamps,
    * double text round-trip) would surface as a hash mismatch. */
  def roundTripEventsCsv(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions._
    roundTrip(spark, dir, "events_csv")(writeEventsCsv(graft.Tables.events(spark, dir), _)) { path =>
      readEventsCsv(spark, path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          rnd(fxSum(col("value"), 4), 4).as("sum_value"),
          min("ts").as("min_ts"), max("ts").as("max_ts"))
    }
  }

  /** documents parquet → ref-shaped JSONL corpus → read back → per-lang
    * summary with a polynomial content-hash sum, so every text byte
    * must survive the JSON escape/unescape round trip. */
  def roundTripDocsJsonl(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions._
    roundTrip(spark, dir, "docs_jsonl")(writeDocumentsJsonl(
      graft.Tables.documents(spark, dir).select(
        col("doc_id").cast("string").as("id"), col("text"),
        col("lang").as("category"),
        lit("1970-01-01T00:00:00Z").as("timestamp"), col("source")), _)) { path =>
      readDocumentsJsonl(spark, path)
        .groupBy("category")
        .agg(count(lit(1)).as("n"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          sum(polyHash(col("text"))).as("content_hash_sum"))
    }
  }

  /** documents parquet → ORC → read back → per-lang summary with the
    * polynomial content-hash sum (the JSONL contract over the OTHER
    * columnar format Spark ships natively — a lakehouse frequently
    * carries both, and the round trip proves schema and every text
    * byte survive the format change). */
  def roundTripDocsOrc(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions._
    roundTrip(spark, dir, "docs_orc")(
      graft.Tables.documents(spark, dir).write.mode("overwrite").orc(_)) { path =>
      spark.read.orc(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          sum(col("n_chars")).as("sum_n_chars"),
          sum(polyHash(col("text"))).as("content_hash_sum"))
    }
  }

  object SqlOracle {
    import graft.functions.{Sql => S}

    /** Oracle reads the ORIGINAL parquet — equality proves the Spark
      * side's CSV round trip was lossless. */
    val roundTripEventsCsv: String =
      s"""SELECT event_type, count(*) AS n,
         |  ${S.rnd(S.fxSum("value", 4), 4)} AS sum_value,
         |  min(ts) AS min_ts, max(ts) AS max_ts
         |FROM ${S.eventsUs} e
         |GROUP BY event_type""".stripMargin

    val roundTripDocsOrc: String =
      s"""SELECT lang, count(*) AS n,
         |  CAST(sum(len(text)) AS BIGINT) AS sum_chars,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
         |  CAST(sum(${S.polyHash("text")}) AS BIGINT) AS content_hash_sum
         |FROM documents
         |GROUP BY lang""".stripMargin

    val roundTripDocsJsonl: String =
      s"""SELECT lang AS category, count(*) AS n,
         |  CAST(sum(len(text)) AS BIGINT) AS sum_chars,
         |  CAST(sum(${S.polyHash("text")}) AS BIGINT) AS content_hash_sum
         |FROM documents
         |GROUP BY lang""".stripMargin
  }
}
