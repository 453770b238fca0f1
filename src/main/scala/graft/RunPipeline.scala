package graft

import java.sql.Timestamp

import scala.util.Try

import org.apache.spark.sql.functions.col

import graft.marts.Marts
import graft.meta.{RunLog, StagedWrite}
import graft.schema.Warehouse

/** CLI entry: one strict warehouse build from a testdata dir.
  * Usage: graft.RunPipeline <sfDir> <warehouseRoot>
  * Prints this run's rows of the run-history view
  * ([[graft.marts.Marts.runHistory]], the reference's Runlogs.png
  * evidence), whether the build passed or not; exits nonzero when a
  * load or a validation check fails (reference SQL:1622 "stop each
  * stage on error").
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, root) = args.take(2)
    val spark = Harness.session()
    val since = new Timestamp(System.currentTimeMillis())
    val outcome = Try(Pipeline.runAll(spark, sfDir, root, strict = true))
    val logPath = Warehouse(root).meta("etl_run_log")
    if (StagedWrite.exists(spark, logPath))
      Marts.runHistory(new RunLog(spark, logPath).read())
        .filter(col("started_at") >= since).orderBy("started_at")
        .show(false)
    outcome.foreach(r => println(s"[pipeline] passed: dim_date rows=${r.dimDateRows}, " +
      s"${r.violations.size} checks without a violation"))
    outcome.failed.foreach(e => println(s"[pipeline] failed: ${e.getMessage}"))
    spark.stop()
    if (outcome.isFailure) sys.exit(1)
  }
}
