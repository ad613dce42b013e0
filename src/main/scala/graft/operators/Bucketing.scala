package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-location (SURVEY.md §4/§5). At 100 TB the
  * dominant cost of a repeated big-big equi-join is the shuffle; both
  * sides written `bucketBy(n, key)` share a partitioning, so every
  * subsequent join on the key is planned WITHOUT an Exchange on either
  * side — one write amortized over every later run. `sortBy` inside
  * the bucket additionally removes the join's Sort when each bucket is
  * a single file.
  */
object Bucketing {

  /** Writes `df` as a parquet table bucketed (and sorted) on `key`.
    * Bucket counts must match across join sides (Spark can coalesce
    * differing counts only when one divides the other). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int): Unit = {
    reclaimOrphanedLocation(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** Crash recovery for managed-table (re)builds: a run that died
    * between CREATE's directory write and its catalog commit — or a
    * catalog lost with its JVM while the warehouse persisted — leaves
    * an orphaned location that makes every later CREATE fail with
    * LOCATION_ALREADY_EXISTS. A rebuild is an overwrite by intent, so
    * when the catalog has NO table but its default location exists,
    * delete the leftover. Never touches the location of a live
    * catalog table — and because `tableExists` resolves against the
    * session's CURRENT database while the reclaimed path is the
    * DEFAULT database's location, the reclaim is a no-op unless the
    * current database IS `default` and the name is unqualified (a
    * `db.table` name or a non-default current database could
    * otherwise delete a live default-db table's data out from under
    * the catalog). */
  def reclaimOrphanedLocation(spark: SparkSession, table: String): Unit =
    if (spark.catalog.currentDatabase == "default" &&
        !table.contains(".") &&
        !spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Day-partitioned layout for append-only logs: a time-range query
    * against this layout prunes whole day directories at PLANNING time
    * (PartitionFilters) — zero IO for out-of-range days, the first
    * thing a 100 TB event store needs. */
  def writePartitionedByDay(events: DataFrame, path: String,
                            tsCol: String = "ts"): Unit =
    events
      .withColumn("day", org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col(tsCol), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(path)

  /** Inclusive day-range read; the range predicate is a partition
    * filter, never a data filter. */
  def readDayRange(spark: SparkSession, path: String,
                   fromDay: String, toDay: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(path)
      .filter(col("day") >= fromDay && col("day") <= toDay)
  }
}
