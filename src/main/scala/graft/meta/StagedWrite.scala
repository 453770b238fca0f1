package graft.meta

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staged-swap publish — the Spark-side answer to the reference's
  * `BEGIN TRAN … COMMIT/ROLLBACK` around each load (reference
  * SQL:924-925, 990, 1026-1044).
  *
  * Plain `mode("overwrite")` on a path we are also *reading from* in
  * the same plan deletes the input mid-job; and a failed overwrite
  * leaves a half-written table. Instead the full result is written to
  * a run-unique staging dir, then published with a rename dance that
  * keeps a complete version on disk at every instant:
  *
  *   1. write `target.staging-<run>` (crash here: target untouched)
  *   2. rename `target` -> `target.old`   (crash here: [[recover]]
  *      renames it back)
  *   3. rename staging -> `target`        (the commit point)
  *   4. delete `target.old`               (crash here: [[recover]]
  *      deletes the leftover)
  *
  * [[recover]] must run before the first read of a load
  * ([[LoadTransaction]] calls it) so a crashed step 2/4 is healed rather than misread as
  * "table does not exist" — which would silently rebuild from the
  * delta alone. Single writer per table is assumed (the reference runs
  * its loads sequentially, SQL:1799-1811); on a real cluster this
  * rename dance is replaced by a metastore / table-format
  * (Delta/Iceberg) commit and the call sites don't change.
  */
object StagedWrite {

  def overwrite(df: DataFrame, target: String): Unit =
    publish(df.sparkSession, target)(df.write.mode("overwrite").parquet(_))

  /** The rename dance around any staging step: `stage` writes the
    * complete new version into the directory it is given (step 1). */
  def publish(spark: SparkSession, target: String)(stage: String => Unit): Unit = {
    recover(spark, target)
    val staging =
      new Path(target + ".staging-" + UUID.randomUUID().toString.take(8))
    stage(staging.toString)
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tgt = new Path(target)
    val old = new Path(target + ".old")
    if (fs.exists(tgt) && !fs.rename(tgt, old))
      throw new RuntimeException(s"staged-swap rename failed: $target -> $old")
    if (!fs.rename(staging, tgt)) {
      if (fs.exists(old)) fs.rename(old, tgt) // restore the previous version
      throw new RuntimeException(s"staged-swap rename failed: $staging -> $target")
    }
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** Whether `path` exists on its filesystem. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Heal a crashed publish. Idempotent; call before reading `target`. */
  def recover(spark: SparkSession, target: String): Unit = {
    val tgt = new Path(target)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(target + ".old")
    if (fs.exists(old)) {
      if (fs.exists(tgt)) fs.delete(old, true) // crashed after commit
      else if (!fs.rename(old, tgt))           // crashed between 2 and 3
        throw new RuntimeException(s"recovery rename failed: $old -> $target")
    }
    // orphaned staging dirs from writes that never reached the commit
    val orphans = fs.globStatus(new Path(target + ".staging-*"))
    if (orphans != null) orphans.foreach(s => fs.delete(s.getPath, true))
  }
}
