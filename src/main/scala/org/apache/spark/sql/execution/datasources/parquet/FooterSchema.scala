package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType

/** Parquet schema inference without its Spark job: the first data file's
  * footer, read on the driver and converted by Spark's package-private
  * `readSchema` under the session's confs, as inference does. None where
  * inference does more or fails: subdirectories (partition discovery),
  * summary files, schema merging, or no data file (a missing path). */
object FooterSchema {
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val listed = try p.getFileSystem(conf).listStatus(p).toSeq.sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled || listed.exists(f =>
        f.isDirectory || f.getPath.getName.matches("_(common_)?metadata"))) None
    else listed.find(!_.getPath.getName.matches("[_.].*|.*\\._COPYING_")).flatMap { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchema(Seq(new Footer(f.getPath, footer)), spark)
    }
  }
}
