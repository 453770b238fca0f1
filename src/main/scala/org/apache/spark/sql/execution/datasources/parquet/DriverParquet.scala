package org.apache.spark.sql.execution.datasources.parquet

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

/** A handful of rows written as one parquet file on the driver, with no
  * Spark job. The rows go through Spark's own task-side writer: the
  * factory `ParquetUtils.prepareWrite` makes under the session's confs,
  * and its `OutputWriter`. So the file is the one a one-task
  * `df.write.parquet` leaves: the same message type, footer keys and
  * inferred schema. Meant for control-plane rows, not data.
  *
  * The file is written under a hidden name (a leading `_`, which
  * readers skip) and renamed to a `part-` name only once it is
  * complete, so a throw mid-file never leaves a visible part file; the
  * hidden file is deleted. `dir` is created if missing. */
object DriverParquet {
  def write(spark: SparkSession, dir: String, schema: StructType, rows: Iterator[Row]): Unit = {
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val context = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(context)}"
    val hidden = new Path(dir, "_" + name)
    val fs = hidden.getFileSystem(job.getConfiguration)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try {
      val writer = factory.newInstance(hidden.toString, schema, context)
      try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      finally writer.close()
      if (!fs.rename(hidden, new Path(dir, name)))
        throw new IOException(s"rename failed: $hidden -> $name")
    } finally fs.delete(hidden, false) // a no-op once renamed
  }
}
