package graft.tools

import org.apache.spark.sql.graftext.ListenerBus

import graft.Harness

/** Generic per-stage decomposition for ANY declared query:
  * `QueryProf <sfDir> <query> [runs]` runs the registered query
  * `runs` times (default 2, min-of-N wall printed) under the bench
  * session conf, then one instrumented run with a SparkListener
  * collecting per-stage submit→complete walls, task counts and
  * shuffle bytes — the §43 view ("where does the wall go") for the
  * whole registry instead of one bespoke harness per query.
  *
  * The same sf0.001 warmup as graft.Bench runs first so codegen
  * compilation isn't billed to the measured stages.
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session()
    val fn = graft.SparkEntry.queries(name)
    Harness.warm(sfDir)(fn(spark, _).count())
    val walls = Harness.trials(runs, s"$name ")(fn(spark, sfDir).count())
    require(walls.forall(_ >= 0), s"$name failed")
    println(f"$name min-of-$runs: ${walls.min}%.2f s")
    // instrumented run: stage walls
    case class St(id: Int, wall: Double, tasks: Int, shufRead: Long,
                  shufWrite: Long, spill: Long, nm: String)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[St]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val si = sc.stageInfo
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield (c - s) / 1e3).getOrElse(-1.0)
        events.add(St(si.stageId, wall, si.numTasks,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.diskBytesSpilled,
          si.name.take(60)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    var dfRun: org.apache.spark.sql.DataFrame = null
    val (ok, total) = Harness.trial(name) {
      dfRun = fn(spark, sfDir); dfRun.count() }
    if (ok && sys.env.contains("QUERYPROF_PLAN"))
      println(dfRun.queryExecution.executedPlan.toString)
    // every stage-completed event posted so far reaches the listener
    ListenerBus.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val sts = events.asScala.toSeq.sortBy(-_.wall)
    println(f"instrumented total: $total%.2f s, ${sts.size} stages")
    println(f"${"stage"}%6s ${"wall_s"}%8s ${"tasks"}%6s " +
      f"${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"spill_MB"}%9s  name")
    sts.take(40).foreach { s =>
      println(f"${s.id}%6d ${s.wall}%8.2f ${s.tasks}%6d " +
        f"${s.shufRead / 1e6}%9.1f ${s.shufWrite / 1e6}%9.1f " +
        f"${s.spill / 1e6}%9.1f  ${s.nm}")
    }
    println(f"sum of stage walls: ${sts.map(_.wall).sum}%.2f s " +
      "(> total means overlap; gaps mean driver time)")
    spark.stop()
  }
}
