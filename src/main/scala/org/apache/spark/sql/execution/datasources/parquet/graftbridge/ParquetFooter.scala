package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(path)` infers, read on the driver.
  * Spark's own non-merging inference reads one footer — the first
  * `_common_metadata`, else the first `_metadata`, else the first data
  * file, in path order — but does it in a one-task job. This reads the
  * same footer directly, through the same converter
  * (`ParquetFileFormat.readSchema`, under the session's parquet
  * settings), appends the partition columns the listing discovers and
  * makes every column nullable, as Spark's file sources do. A path
  * with no data file goes to Spark's inference, which raises its
  * `UNABLE_TO_INFER_SCHEMA` error.
  *
  * Lives under Spark's parquet package only to reach its
  * `private[parquet]` footer readers; no Spark code is modified. */
object ParquetFooter {
  def schema(spark: SparkSession, path: String): StructType = {
    val index = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.filter(_.getPath.getName == n)
    val data = files.filterNot(f => Set("_common_metadata", "_metadata")(f.getPath.getName))
    if (data.isEmpty) spark.read.parquet(path).schema
    else {
      val footerOf = named("_common_metadata").headOption
        .orElse(named("_metadata").headOption).getOrElse(data.head)
      val footers = ParquetFileFormat.readParquetFootersInParallel(
        spark.sessionState.newHadoopConf(), Seq(footerOf), ignoreCorruptFiles = false)
      val dataSchema = ParquetFileFormat.readSchema(footers, spark)
        .getOrElse(spark.read.parquet(path).schema)
      val parts = index.partitionSchema.filterNot(f => dataSchema.fieldNames.contains(f.name))
      // a file source reads every column as nullable
      StructType(dataSchema.fields ++ parts).asNullable
    }
  }
}
