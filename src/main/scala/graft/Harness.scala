package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one place an entrypoint gets its session, its warmup and its
  * timed trials, so every main runs under the conf the plans were
  * tuned under ([[GraftConf.applyBase]]) and measures the same way. */
object Harness {
  /** The smallest fixture: codegen and JIT compile on it, untimed. */
  val WarmupDir = "/root/testdata/sf0.001"

  /** `local[SPARK_GRAFT_CPUS]` (default min(32, host cores)), or the
    * master `SPARK_GRAFT_MASTER` names (a standalone cluster); base
    * conf, UI off, WARN logging, and one tiny job so session start-up
    * is billed to no measurement. Callers that write parquet set
    * `spark.sql.parquet.outputTimestampType` on the returned session. */
  def session(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftConf.applyBase(SparkSession.builder().master(master), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).count()
    spark
  }

  /** Runs `body` on [[WarmupDir]] unless that directory is missing or
    * is `sfDir` itself — compared by canonical path, so a trailing
    * slash or a symlink cannot defeat the guard and bill the timed
    * scale factor's first read to the warmup. A failing warmup is
    * ignored: the timed trial reports the failure. */
  def warm(sfDir: String)(body: String => Any): Unit = {
    def canon(p: String) = new java.io.File(p).getCanonicalPath
    if (new java.io.File(WarmupDir).exists && canon(WarmupDir) != canon(sfDir))
      try body(WarmupDir) catch { case NonFatal(_) => () }
  }

  /** One timed trial: `(ok, wall seconds)`. A failure records no wall
    * (-1): a plan-time crash must not read as a speedup. */
  def trial(what: String = "trial")(body: => Any): (Boolean, Double) = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case NonFatal(e) =>
        System.err.println(s"[harness] $what failed: $e"); false }
    val wall = (System.nanoTime() - t0) / 1e9
    (ok, if (ok) wall else -1.0)
  }

  /** `n` [[trial]]s of a counting body, each printed as
    * `<label>run <i>: <wall> s (<count> rows)`; returns the walls. */
  def trials(n: Int, label: String = "")(body: => Long)
      : Seq[Double] = (1 to n).map { i =>
    var rows = 0L
    val (ok, w) = trial(s"${label}run $i") { rows = body }
    println(if (ok) f"${label}run $i: $w%.2f s ($rows rows)"
            else s"${label}run $i: failed")
    w
  }
}
