package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Reads are plain parquet scans so Catalyst can push filters and prune
  * columns into the scan (`PushedFilters` / `ReadSchema`); callers must
  * select/filter on the returned frame, never pre-materialize.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred parquet schema per path — METADATA memo, not result
    * caching: `spark.read.parquet` with no schema runs a footer
    * -inference job (~30 ms) on EVERY call, and a single query calls
    * these loaders up to 8 times (JobProbe r17: ann_ivf_pq paid 8 such
    * jobs before its first real stage). The schema of a static table
    * file is a constant; inferring it once per application
    * ([[graft.Memo]]) and passing it explicitly removes the repeated
    * jobs while the scan itself (file listing, pruning, pushdown) stays
    * exactly as before. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = Memo(spark, "schema", path)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** Loader contract: downstream operators always see `ts` as a UTC
    * TIMESTAMP (µs instant). Driver data refreshes have shipped three
    * distinct parquet encodings so far, all normalized here:
    *   - TIMESTAMP(NANOS): Spark only reads it as a raw long
    *     (`spark.sql.legacy.parquet.nanosAsLong=true`, set in
    *     Verify/Bench/tests) → truncate ns→µs, same as DuckDB's cast;
    *   - TIMESTAMP_NTZ (isAdjustedToUTC=false, the 2026-08 refresh):
    *     cast to TIMESTAMP — the session zone is pinned UTC everywhere,
    *     so the wall-clock reinterpretation preserves the instant;
    *   - TIMESTAMP (µs, adjusted to UTC): passthrough.
    * Any new encoding must be added here, not at call sites — every
    * operator/stream reads events through this loader. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(apply(spark, dir, "events"))

  /** Normalizes the `ts` column of an events-shaped frame per the
    * [[events]] contract; exposed so tests and external frames (CSV
    * imports, user-built corpora) can assert the same tolerance. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
