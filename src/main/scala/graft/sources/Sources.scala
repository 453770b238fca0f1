package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.schema.Tables

/** Source/sink layer (SURVEY §2.A). The reference's sources are SQL
  * Server tables behind staging views (A1-A4); the warehouse layer here
  * is parquet, with CSV/JSONL ingest for landing-zone files and
  * partitioned/bucketed writes as the physical-design knobs the
  * reference expresses as indexes (SURVEY §4).
  *
  * All readers take EXPLICIT schemas: schema inference reads the data
  * twice and silently drifts types between runs — both unacceptable at
  * 100 TB (and the reference declares full DDL for every table too,
  * SQL:156-177).
  */
object Sources {

  /** CSV with header, explicit schema, strict mode (corrupt rows fail
    * loudly instead of becoming silent nulls). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .csv(path)

  /** JSON-lines with explicit schema, strict mode. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("mode", "FAILFAST")
      .json(path)

  /** ORC with explicit schema — the other columnar interchange format
    * a landing zone commonly delivers; same pushdown/pruning story as
    * parquet (Spark's ORC reader supports predicate pushdown and
    * column pruning natively). */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String,
               mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  /** Hive-style partitioned parquet sink: one directory per distinct
    * partition value — readers of `WHERE pcol = v` scan only that
    * directory (partition pruning, the scan-path analog of the
    * reference's FK indexes, SURVEY §4). Keep partition cardinality
    * bounded (date/region, never a high-cardinality key). */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Sort-clustered parquet sink: range-partition then sort within
    * partitions by `sortCols`, so each output file covers a narrow
    * value range and every row group's min/max statistics are tight.
    * A later `WHERE sortCol BETWEEN ..` scan skips whole files and row
    * groups — the layout-level answer to the reference's clustered
    * index (SURVEY §4), and the cheap 80% of what Z-ordering buys when
    * one column dominates the predicates (watermark timestamps here). */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  mode: String = "overwrite"): Unit =
    df.repartitionByRange(sortCols.map(df(_)): _*)
      .sortWithinPartitions(sortCols.map(df(_)): _*)
      .write.mode(mode).parquet(path)

  /** Z-order-clustered parquet sink: [[writeSorted]] on the Morton
    * value of two sort keys ([[graft.functions.ZOrder.zValue]]), so
    * min/max row-group statistics prune scans filtered on EITHER key
    * — the two-dimensional upgrade of the sort-clustered layout. The
    * curve key is dropped from the written schema (it is layout, not
    * data; recompute it from the keys when re-clustering). */
  def writeZOrdered(df: DataFrame, path: String, keyA: String,
                    keyB: String, bits: Int = 16,
                    mode: String = "overwrite",
                    nFiles: Option[Int] = None): Unit = {
    val z = df.withColumn("__z",
      graft.functions.ZOrder.zValue(df(keyA), df(keyB), bits))
    // explicit file count pins the layout granularity (AQE otherwise
    // coalesces small inputs to one file, which defeats pruning)
    val ranged = nFiles.fold(z.repartitionByRange(z("__z")))(n =>
      z.repartitionByRange(n, z("__z")))
    ranged.sortWithinPartitions(ranged("__z"))
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Small-file compaction: rewrite a directory into
    * ceil(bytes / targetFileBytes) files. Repeated per-partition
    * appends accumulate thousands of KB-scale files;
    * scan cost then tracks FILE COUNT (open/footer/seek per file), not
    * data volume — at 100 TB an uncompacted table can spend longer
    * listing and opening than reading. Run periodically from the
    * maintenance window, like the reference's index rebuild (J43).
    *
    * Publishes through [[graft.meta.StagedWrite]] (staging dir first,
    * then the rename dance), so a complete copy exists on disk at
    * every instant — a crash mid-compaction never loses the table, and
    * `StagedWrite.recover` heals any leftover.
    *
    * Hive-partitioned tables MUST pass their `partitionCols` or the
    * rewrite would flatten the directory layout and lose partition
    * pruning; partitioned compaction clusters each partition value
    * into one task → one file per partition directory (the usual goal;
    * `targetFileBytes` only drives the unpartitioned file count). */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              partitionCols: Seq[String] = Seq.empty): Unit = {
    val df = Tables.read(spark, path)
    val repartitioned = if (partitionCols.nonEmpty) {
      df.repartition(partitionCols.map(df(_)): _*)
    } else {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      df.repartition(math.max(1,
        math.ceil(bytes.toDouble / targetFileBytes).toInt))
    }
    graft.meta.StagedWrite.overwrite(repartitioned, path, partitionCols)
  }

  /** Bucketed external table: rows hash-distributed into `nBuckets`
    * files by `bucketCol`, sorted within buckets. Two tables bucketed
    * the same way join WITHOUT a shuffle — the co-located-join answer
    * to "this join's shuffle is the bottleneck at 100 TB". Requires
    * `saveAsTable` (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
                    bucketCol: String, nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .format("parquet")
      .saveAsTable(tableName)
}
