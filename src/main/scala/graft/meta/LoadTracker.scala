package graft.meta

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.DriverParquet
import org.apache.spark.sql.types._

/** Watermark tracker — reference `etl_load_tracker` (SQL:242-256).
  *
  * One row per target table. `last_successful_load` is the DATA
  * watermark: the max source change timestamp actually loaded.
  * `last_successful_execution_time` is the wall clock of the last
  * successful run. The distinction is load-bearing (reference
  * SQL:635-651): a rerun that finds no new data advances the clock but
  * must NOT move the data watermark, or late rows between the old
  * watermark and "now" would be skipped forever.
  *
  * The table is a handful of rows — reading it to the driver is the
  * one sanctioned driver-side materialization (SURVEY §7.6); the
  * watermark is then injected into source scans as a literal so
  * Parquet predicate pushdown prunes row groups at any scale.
  *
  * An instance reads the table ONCE, on first use, with the declared
  * [[LoadTracker.schema]] (no schema-inference job), and afterwards
  * serves watermarks from its in-memory copy; [[advance]] rewrites the
  * table from that copy, as one parquet file written on the driver with
  * no Spark job ([[DriverParquet]]) and published by [[StagedWrite]].
  * This is sound under the single-writer assumption [[StagedWrite]]
  * already documents: nothing but this instance writes the table while
  * it lives. `Pipeline.runAll` makes one instance per run, so a run reads the tracker once instead of
  * twice per load. A writer that may race another process must make a
  * fresh instance per load. Not final: a test substitutes a tracker
  * whose [[advance]] fails, to crash a load between publish and
  * advance.
  */
class LoadTracker(spark: SparkSession, path: String) {
  import LoadTracker._

  private var state: Option[Map[String, LocalDateTime]] = None

  def read(): Map[String, LocalDateTime] = state.getOrElse {
    // heal a crashed publish first: without this, a tracker that died
    // between rename-aside and rename-in reads as "no tracker" and
    // every watermark silently resets to 1900 (full reload)
    StagedWrite.recover(spark, path)
    val loaded =
      if (!StagedWrite.exists(spark, path)) Map.empty[String, LocalDateTime]
      else spark.read.schema(schema).parquet(path).collect()
        .map(r => r.getString(0) -> r.getAs[LocalDateTime](1)).toMap
    state = Some(loaded)
    loaded
  }

  /** Data watermark for `table`, seeded to 1900-01-01 (SQL:252-255). */
  def watermark(table: String): LocalDateTime =
    read().getOrElse(table, Epoch)

  /** Advance after a successful load. `dataWatermark=None` means the
    * delta was empty: bump only the execution clock (SQL:643-651
    * `IF @lastedit IS NOT NULL`). The in-memory copy moves only after
    * the publish commits. */
  def advance(table: String, dataWatermark: Option[LocalDateTime]): Unit = {
    val now = LocalDateTime.now()
    val cur = read()
    val next = cur + (table -> dataWatermark.getOrElse(cur.getOrElse(table, Epoch)))
    // written on the driver: rewriting a handful of rows runs no Spark
    // job, and the staged swap publishes it as it does any table
    val rows = next.iterator.map { case (k, v) => Row(k, v, now) }
    StagedWrite.publish(spark, path)(DriverParquet.write(spark, _, schema, rows))
    state = Some(next)
  }
}

object LoadTracker {
  /** "Beginning of time" sentinel (reference SQL:252-255). */
  val Epoch: LocalDateTime = LocalDateTime.of(1900, 1, 1, 0, 0, 0)

  val schema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("last_successful_load", TimestampNTZType, nullable = false),
    StructField("last_successful_execution_time", TimestampNTZType, nullable = false)))
}
