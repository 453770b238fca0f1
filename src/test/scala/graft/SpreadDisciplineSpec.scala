package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.jdk.CollectionConverters._

/** Regression tripwire for the §43/§47 spread discipline: the
  * iterating families (textrank, hits, bfs, sssp, lpa, kcore, walks)
  * were each fixed by an explicit AQE-exempt spread at their narrow
  * points — byte-light/CPU-heavy round relations that AQE's
  * byte-proportional sizing coalesces to ONE task, serializing every
  * round's expansion join (on a 1000-executor cluster: 999 idle).
  * Nothing structural stops the next edit from re-hitting the trap,
  * so this spec pins the SYMPTOM, table-driven over the iterating
  * registry: run each declared query and assert no completed stage
  * fed a meaningful record volume through a single task.
  *
  * The threshold separates the two honest populations measured on
  * the disciplined tree at sf0.001 (driver-scale stages — codebook
  * collects, renormalize maxes, bounded top-k — read ≤ a few
  * thousand records on one task; the spread round joins run wide):
  * a single-task stage reading ≥ 50k records is the trap shape
  * regardless of scale, because the spread relations carry the full
  * shuffle width at ANY size (repartition-by-num is AQE-exempt) —
  * de-spreading a family collapses its join stages to one task WITH
  * the full record volume, which is exactly what this catches. */
class SpreadDisciplineSpec extends SparkSpec {

  private val SingleTaskRecordCap = 50000L

  private val iteratingRegistry = Seq(
    "textrank_keywords", "hits_scores", "graph_bfs_reach",
    "graph_sssp", "community_lpa", "kcore_rounds", "graph_walks",
    "graph_ppr", "graph_ppr_recommend", "graph_betweenness")

  test("iterating registry: no single-task stage carries the round " +
      "volume (the AQE byte-proportional coalesce trap)") {
    val offenders = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onStageCompleted(
          ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val recs = si.taskMetrics.inputMetrics.recordsRead +
          si.taskMetrics.shuffleReadMetrics.recordsRead
        if (si.numTasks == 1 && recs >= SingleTaskRecordCap)
          offenders.add(s"${si.name.takeWhile(_ != '\n')} " +
            s"(stage ${si.stageId}, $recs records, 1 task)")
        if (sys.env.contains("SPREAD_DEBUG"))
          println(s"STAGEDBG tasks=${si.numTasks} in=${si.taskMetrics.inputMetrics.recordsRead} sh=${si.taskMetrics.shuffleReadMetrics.recordsRead} ${si.name.takeWhile(_ != '\n')}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      iteratingRegistry.foreach { name =>
        offenders.clear()
        SparkEntry.queries(name)(spark, sf).count()
        Thread.sleep(500) // listener events post asynchronously
        val got = offenders.asScala.toSeq
        assert(got.isEmpty,
          s"$name ran heavy single-task stages — a spread was " +
            s"dropped or bypassed:\n  ${got.mkString("\n  ")}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the discipline assertion CAN fire: a single-partition round " +
      "checkpoint is rejected (canary for the tripwire itself)") {
    import spark.implicits._
    val df = (1L to 100L).toDF("x").coalesce(1).localCheckpoint()
    val e = intercept[IllegalArgumentException] {
      graft.ext.Pin.assertSpread(df, "canary")
    }
    assert(e.getMessage.contains("single-task trap"))
    // and the keyed pin lands wide at ANY size — repartition-by-num
    // is AQE-exempt, so even 100 rows carry the full shuffle width
    val ok = graft.ext.Pin.pin((1L to 100L).toDF("x"), "canary-ok",
      Seq(org.apache.spark.sql.functions.col("x")))
    assert(ok.rdd.getNumPartitions ==
      spark.sessionState.conf.numShufflePartitions)
  }
}
