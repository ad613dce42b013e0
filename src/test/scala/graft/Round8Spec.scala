package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-8 regression coverage for the event-timestamp encoding
  * contract (Tables.events): the driver's 2026-08 testdata refresh
  * flipped `ts` from TIMESTAMP(NANOS)-read-as-long to TIMESTAMP_NTZ and
  * broke every `unix_micros`/`unix_millis` consumer. These tests write
  * the SAME events under all three parquet encodings the loader
  * documents and assert (a) the loader normalizes each to a UTC
  * TIMESTAMP with identical instants, and (b) the whole
  * previously-broken query family is encoding-invariant, so the next
  * encoding flip is caught here, not by the driver.
  */
class TsEncodingSpec extends AnyFunSuite with Matchers with SharedSpark {

  // One directory per encoding, each holding an events.parquet with
  // byte-identical instants. Base frame is loader-normalized (ts is a
  // UTC µs TIMESTAMP regardless of what the current testdata stores).
  private lazy val dirs: Map[String, String] = {
    val base = Tables.events(spark, sfDir)
    val utc = tempDir("graft-ts-utc")
    val ntz = tempDir("graft-ts-ntz")
    val lng = tempDir("graft-ts-long")
    base.write.mode("overwrite").parquet(s"$utc/events.parquet")
    base.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$ntz/events.parquet")
    base.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$lng/events.parquet")
    Map("utc" -> utc, "ntz" -> ntz, "long-nanos" -> lng)
  }

  private def instants(dir: String): Set[(Long, Long)] =
    Tables.events(spark, dir)
      .select(col("event_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("loader normalizes all three parquet ts encodings to TIMESTAMP") {
    val expected = instants(sfDir)
    for ((name, dir) <- dirs) {
      val loaded = Tables.events(spark, dir)
      withClue(s"encoding=$name: ") {
        loaded.schema("ts").dataType shouldBe TimestampType
        instants(dir) shouldBe expected
      }
    }
  }

  test("normalizeEventTs accepts frames that bypass the loader") {
    val base = Tables.events(spark, sfDir).limit(10)
    val asNtz = base.withColumn("ts", col("ts").cast(TimestampNTZType))
    val asLong = base.withColumn("ts", expr("unix_micros(ts) * 1000L"))
    asNtz.schema("ts").dataType shouldBe TimestampNTZType
    asLong.schema("ts").dataType shouldBe LongType
    for (df <- Seq(base, asNtz, asLong)) {
      val n = Tables.normalizeEventTs(df)
      n.schema("ts").dataType shouldBe TimestampType
      n.select(expr("sum(unix_micros(ts))")).head.getLong(0) shouldBe
        base.select(expr("sum(unix_micros(ts))")).head.getLong(0)
    }
  }

  // The seven components r7 broke, plus the date-tolerant survivors the
  // verdict flagged as implicitly-lucky — all must produce identical
  // results on every encoding.
  private val family = Seq(
    "events_funnel", "events_moving_avg", "events_session_stats",
    "q_asof_join", "q_range_join", "stream_sessionize",
    "source_roundtrip_events_csv",
    "q_latest_by_key", "events_retention", "events_active_users")

  private def resultSet(name: String, dir: String): Set[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map((r: Row) => r.toString).toSet

  for (name <- family)
    test(s"$name is ts-encoding-invariant") {
      val expected = resultSet(name, dirs("utc"))
      withClue("encoding=ntz: ") {
        resultSet(name, dirs("ntz")) shouldBe expected
      }
      withClue("encoding=long-nanos: ") {
        resultSet(name, dirs("long-nanos")) shouldBe expected
      }
    }
}
