package graft.meta

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.DriverParquet
import org.apache.spark.sql.types._

/** Append-only ETL run log — reference `etl_run_log` (SQL:574-586):
  * (run name, start/end, rows inserted/updated/deleted, status, error).
  * Written once per load: one row, one new parquet file, written on the
  * driver with no Spark job ([[DriverParquet]]) and renamed into place
  * only once complete, so a crash mid-append leaves no half-written part
  * file. Reading it back is a normal DataFrame scan, so log analytics
  * scale like any other table.
  */
final class RunLog(spark: SparkSession, path: String) {
  import RunLog._

  def append(runName: String, startedAt: Timestamp,
             rowsInserted: Long, rowsUpdated: Long, rowsDeleted: Long,
             status: String, errorMessage: Option[String]): Unit = {
    val row = Row(runName, startedAt, new Timestamp(System.currentTimeMillis()),
      rowsInserted, rowsUpdated, rowsDeleted, status, errorMessage.orNull)
    DriverParquet.write(spark, path, schema, Iterator(row))
  }

  /** Read with the declared [[RunLog.schema]]: no schema-inference
    * job. */
  def read(): DataFrame = spark.read.schema(schema).parquet(path)
}

object RunLog {
  val Success = "SUCCESS"
  val Fail = "FAIL"

  val schema: StructType = StructType(Seq(
    StructField("run_name", StringType, nullable = false),
    StructField("started_at", TimestampType, nullable = false),
    StructField("ended_at", TimestampType, nullable = false),
    StructField("rows_inserted", LongType, nullable = false),
    StructField("rows_updated", LongType, nullable = false),
    StructField("rows_deleted", LongType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("error_message", StringType, nullable = true)))
}
