package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Source-table access over the driver-generated parquet fixtures
  * (TESTDATA.md) plus the warehouse directory layout.
  *
  * Reference analog: the staging/int/mart schema split of the mini-DW
  * (reference `code/SQL_1_Assignment_2_David_Färm.sql:135-152`). Our
  * "schemas" are directories under a warehouse root (the `mart` schema
  * holds only views, [[graft.marts.Marts]]); a real deployment
  * would point these at object-store prefixes and register them in a
  * catalog — nothing here assumes a local filesystem beyond the paths.
  */
object Tables {
  def src(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without the Spark job its schema
    * inference runs: the schema comes from one footer read on the
    * driver ([[FooterSchema]]), so planning a read starts no job. A
    * partitioned, missing or empty path goes to `spark.read.parquet`
    * itself, so partition discovery and the errors stay Spark's. The
    * schema depends on the session's parquet confs at call time
    * (`nanosAsLong`, set in [[graft.GraftConf.base]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    FooterSchema.of(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
}

/** Warehouse layout (reference SQL:142-151 `CREATE SCHEMA` ×3 + meta);
  * marts are views, so they have no path. */
final case class Warehouse(root: String) {
  def int(table: String): String  = s"$root/int/$table"
  def meta(table: String): String = s"$root/meta/$table"
}
