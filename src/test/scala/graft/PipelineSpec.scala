package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.marts.Marts

/** The reference's headline test (SQL:70-74): run the whole warehouse
  * build twice — second run must be a no-op (0 inserts everywhere) and
  * all Stage-5 invariants must hold after both runs.
  */
class PipelineSpec extends SparkSpec {

  /** Jobs of a no-op strict rerun on the sf0.001 fixture with this
    * suite's session: 22 measured, plus a slack of 5 for planner
    * changes (AQE can split or fold a stage). They are the three sweep
    * actions, the snapshot dims' deleted-key scans and the tracker
    * read. The per-check sweep and per-load tracker re-reads ran 133
    * jobs in the benchmark's `etl_warehouse` rerun; parquet schema
    * inference, one job per table read, another 16; the control-plane
    * writes, the stats actions and the date-dim rewrite another 19. */
  private val NoopJobCeiling = 27

  /** Jobs of a strict build from an empty root on the same fixture and
    * session: 115 measured, plus the same slack of 5. The build runs
    * every load's stats action and pre-publish gate (one fused sweep
    * action per load) and the post-publish sweep. */
  private val BuildJobCeiling = 120

  /** Frames no job of a no-op rerun may start from: a control-plane
    * write, a table write (the date dim's included) or a load's stats
    * action. */
  private val NoopFreeFrames =
    Seq("RunLog", "LoadTracker.advance", "StagedWrite", "LoadTransaction$.run")

  test("runAll is idempotent and passes all validation checks") {
    val root = Files.createTempDirectory("graft_wh").toString

    // every load gates its candidate before the publish (the gates
    // must pass on every real candidate frame here), and strict mode
    // throws if the post-publish sweep finds anything
    val (first, buildJobs) = jobSitesDuring(Pipeline.runAll(spark, sf, root, strict = true))
    assert(buildJobs.size <= BuildJobCeiling,
      s"a strict build ran ${buildJobs.size} Spark jobs; the ceiling is $BuildJobCeiling:\n" +
        bySite(buildJobs))
    assert(first.dimDateRows > 2000L)
    assert(first.dimInserts.values.forall(_ > 0L), s"first run must load: ${first.dimInserts}")
    assert(first.factInserts > 0L)
    first.violations.foreach { case (name, n) =>
      assert(n == 0L, s"validation $name: $n violations")
    }

    val factAfterFirst = spark.read.parquet(s"$root/int/factsales")
      .orderBy("sales_nk").collect()

    // strict rerun: a healthy warehouse must sail through. Its loads
    // are no-ops, so none of them reaches its gate. The listener
    // counts the rerun's Spark jobs: a no-op rerun is nearly all
    // per-job latency, so its job count is guarded
    val (second, jobs) = jobSitesDuring(Pipeline.runAll(spark, sf, root, strict = true))
    assert(jobs.size <= NoopJobCeiling,
      s"a no-op rerun ran ${jobs.size} Spark jobs; the ceiling is $NoopJobCeiling:\n" +
        bySite(jobs))
    val needless = jobs.filter(s => NoopFreeFrames.exists(f => s.contains(s"graft.meta.$f")))
    assert(needless.isEmpty, s"a no-op rerun ran jobs it cannot need:\n${bySite(needless)}")
    // the checks that can still find something still run
    Seq("Checks$.dimSweep", "Checks$.totals", "Scd2Dimension").foreach { f =>
      assert(jobs.exists(_.contains(f)), s"no rerun job starts in $f:\n${bySite(jobs)}")
    }
    assert(second.dimInserts.values.forall(_ == 0L),
      s"rerun must insert 0 dim rows: ${second.dimInserts}")
    assert(second.factInserts == 0L, "rerun must insert 0 fact rows")
    second.violations.foreach { case (name, n) =>
      assert(n == 0L, s"validation $name after rerun: $n violations")
    }

    val factAfterSecond = spark.read.parquet(s"$root/int/factsales")
      .orderBy("sales_nk").collect()
    assert(factAfterFirst.toSeq == factAfterSecond.toSeq,
      "fact table must be byte-identical after a no-op rerun")

    // run log recorded SUCCESS rows for both runs
    val log = spark.read.parquet(s"$root/meta/etl_run_log")
    assert(log.filter(col("status") === "SUCCESS").count() >= 10L)

    // run-history view: one row per log entry, exactly one latest per
    // run name, non-negative durations, touched = inserted+updated+deleted
    val hist = Marts.runHistory(log)
    assert(hist.count() == log.count(),
      "run_history must cover every run-log row")
    val latestPerName = hist.filter(col("is_latest") === 1L)
      .groupBy("run_name").count().filter(col("count") =!= 1L).count()
    assert(latestPerName == 0L, "exactly one is_latest row per run name")
    assert(hist.filter(col("duration_sec") < 0).count() == 0L)
    assert(hist.filter(col("rows_touched") =!=
      col("rows_inserted") + col("rows_updated") + col("rows_deleted"))
      .count() == 0L)

    // watermark semantics: data watermark unchanged by empty rerun
    val tracker = spark.read.parquet(s"$root/meta/etl_load_tracker")
    assert(tracker.count() >= 5L)

    // the marts are views: the build writes no mart directory
    assert(!Files.exists(Paths.get(root, "mart")))
  }

  test("concurrently rethrows a task's failure only after every task has finished") {
    val boom = new IllegalStateException("boom")
    val thrown = new CountDownLatch(1)
    val finished = new AtomicInteger(0)
    val slow = (1 to 3).map(_ => () => {
      thrown.await()
      Thread.sleep(200)
      finished.incrementAndGet()
    })
    val failing = () => { thrown.countDown(); throw boom }
    val e = intercept[IllegalStateException](Pipeline.concurrently(failing +: slow))
    assert(e eq boom, s"rethrew $e, not the task's own exception")
    assert(finished.get == 3, s"${finished.get} of 3 tasks had finished")
  }
}
