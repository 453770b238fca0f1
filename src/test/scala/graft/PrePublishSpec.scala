package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SweepParitySpec.multipleCurrent
import graft.checks.{CheckViolation, Checks}
import graft.dims.{Scd2, Scd2Dimension}
import graft.facts.FactLoader
import graft.meta.{LoadTracker, LoadTransaction, RunLog}

/** The pre-publish gate every load runs (the reference author's
  * production note, SQL:1622): [[LoadTransaction.gate]], the Stage-5
  * sweep code as one action over the candidate's touched keys. A
  * violating candidate must abort BEFORE the staged publish —
  * published table, watermark and success log untouched, one FAIL row
  * naming the check — and corruption outside the touched keys is left
  * to the post-publish sweep. Also the run-log update/delete counts
  * (SQL:1011-1023) and the structure check.
  */
class PrePublishSpec extends SparkSpec {

  import spark.implicits._

  private def ntz(s: String) = to_timestamp(lit(s)).cast("timestamp_ntz")

  private def feedOf(rows: Seq[(Long, String, String)]) =
    rows.toDF("nk", "attr", "ts_s")
      .withColumn("valid_from", col("ts_s").cast("timestamp_ntz"))
      .drop("ts_s")

  /** The gate `Scd2Dimension("thing", "nk", ...)` runs. */
  private def dimGate(candidate: DataFrame, touched: Option[DataFrame]): Unit =
    LoadTransaction.gate(candidate, "nk", touched,
      d => Checks.dimSweep(Seq(("thing", "nk", d))))

  private def rows(path: String): Seq[Row] =
    spark.read.parquet(path).orderBy("thing_id").collect().toSeq

  test("gate scoping: in-scope violations fire, out-of-scope don't") {
    // candidate with TWO current rows for key 1 (a multi_current
    // violation) and a clean key 2
    val candidate = Seq(
      (1L, "a", 10L, 1L), (1L, "a2", 11L, 1L), (2L, "b", 12L, 1L))
      .toDF("nk", "attr", "thing_id", "is_current")
      .withColumn("active_from", ntz("2024-01-01 00:00:00"))
      .withColumn("active_to", ntz("9999-12-31 00:00:00"))

    // violation key inside the touched scope -> fires
    val eIn = intercept[CheckViolation] {
      dimGate(candidate, Some(Seq(1L).toDF("nk")))
    }
    assert(eIn.counts.toMap.get("multi_current_thing").contains(1L))
    // no scope given -> full validation -> fires
    val eFull = intercept[CheckViolation](dimGate(candidate, None))
    assert(eFull.counts.toMap.get("multi_current_thing").contains(1L))
    // violation key OUTSIDE the touched scope -> must NOT fire:
    // untouched rows were validated when they were published; the
    // post-publish sweep owns out-of-band corruption
    dimGate(candidate, Some(Seq(2L).toDF("nk")))

    // three changes at one timestamp, ordered by a tiebreak column:
    // two zero-width [t, t) versions and the live [t, max) one. The
    // sweep orders tied starts by `active_to`, so the zero-width
    // versions come first and the chain has no overlap
    val tied = Scd2.deriveVersions(
      Seq((1L, "dead1", 0L), (1L, "dead2", 1L), (1L, "live", 2L))
        .toDF("nk", "attr", "tie").withColumn("ts", ntz("2024-01-01 00:00:00")),
      "nk", "ts", Seq("tie"))
    assert(tied.filter(col("active_from") === col("active_to")).count() == 2L)
    dimGate(tied, None)

    // same contract for the fact gate
    val factCand = Seq((1L, 5.0), (1L, 6.0), (2L, 7.0))
      .toDF("sales_nk", "value_gross")
    def factGate(keys: Long*): Unit = LoadTransaction.gate(factCand, "sales_nk",
      Some(keys.toSeq.toDF("sales_nk")), Checks.factSweep(_, Nil))
    val eFact = intercept[CheckViolation](factGate(1L))
    assert(eFact.counts == Seq("dup_fact_nk" -> 1L))
    factGate(2L)
  }

  test("dim gate: untouched-key corruption is out of gate scope") {
    val root = Files.createTempDirectory("graft_gate").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val log = new RunLog(spark, s"$root/log")
    val path = s"$root/dim_thing"
    val dim = new Scd2Dimension("thing", "nk", "valid_from", Seq("attr"))

    val feed1 = feedOf(Seq((1L, "a", "2024-01-01 00:00:00"),
      (2L, "b", "2024-01-01 00:00:00")))
    assert(dim.load(spark, feed1, None, path, tracker, log) == 2L)

    // corrupt the PUBLISHED table out-of-band: duplicate current row
    // for key 1. The next delta touches only key 2, so the corruption
    // rides through OUTSIDE the gate's touched-key scope: the load
    // publishes (gate cost tracks the delta, not the table) and the
    // full-table post-publish sweep is the layer that reports it.
    val corrupt = spark.read.parquet(path).filter(col("nk") === 1L)
      .withColumn("thing_id", lit(999L))
    corrupt.write.mode("append").parquet(path)

    val feed2 = feedOf(Seq((1L, "a", "2024-01-01 00:00:00"),
      (2L, "b", "2024-01-01 00:00:00"), (2L, "c", "2024-02-01 00:00:00")))
    assert(dim.load(spark, feed2, None, path, tracker, log) == 1L) // only key 2's new version is delta
    val published = spark.read.parquet(path)
    // key 2's recompute is correct, corruption passed through untouched
    assert(published.filter(col("nk") === 2L &&
      col("is_current") === 1L).count() == 1L)
    assert(multipleCurrent(published, "nk").count() == 1L)

    // an initial (full) load of a corrupt candidate would still fire:
    // initial loads carry no scope
    val eFull = intercept[CheckViolation](dimGate(published, None))
    assert(eFull.counts.toMap.get("multi_current_thing").contains(1L))
  }

  test("dim gate: a violation among the touched keys aborts the load untouched") {
    val root = Files.createTempDirectory("graft_gate_abort").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val log = new RunLog(spark, s"$root/log")
    val path = s"$root/dim_thing"
    val dim = new Scd2Dimension("thing", "nk", "valid_from", Seq("attr"))
    val feed1 = feedOf(Seq((1L, "a", "2024-01-01 00:00:00"),
      (2L, "b", "2024-01-01 00:00:00")))
    assert(dim.load(spark, feed1, None, path, tracker, log) == 2L)

    // the same out-of-band corruption, a copy of key 1's row under
    // another surrogate, but now the next delta touches key 1: the
    // surrogate-reuse join fans key 1's closed version into two
    // identical, overlapping rows
    spark.read.parquet(path).filter(col("nk") === 1L)
      .withColumn("thing_id", lit(999L))
      .write.mode("append").parquet(path)
    val before = rows(path)
    val wm = new LoadTracker(spark, s"$root/tracker").watermark("thing")
    val logRows = log.read().count()

    val feed2 = feedOf(Seq((1L, "a", "2024-01-01 00:00:00"),
      (2L, "b", "2024-01-01 00:00:00"), (1L, "a2", "2024-02-01 00:00:00")))
    val e = intercept[CheckViolation](dim.load(spark, feed2, None, path, tracker, log))
    assert(e.counts == Seq("overlaps_thing" -> 1L))

    assert(rows(path) == before, "the published table must not change")
    assert(new LoadTracker(spark, s"$root/tracker").watermark("thing") == wm,
      "the watermark must not move")
    val added = log.read().orderBy("started_at").collect().drop(logRows.toInt)
    assert(added.length == 1, s"one log row, got ${added.toSeq}")
    assert(added(0).getAs[String]("status") == RunLog.Fail)
    assert(added(0).getAs[String]("error_message").contains("overlaps_thing"))
  }

  test("fact gate: scoped to delta keys; full sweep owns the rest") {
    val root = Files.createTempDirectory("graft_gate_fact").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val log = new RunLog(spark, s"$root/log")
    val path = s"$root/factsales"
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")

    assert(FactLoader.load(spark, lineitem, orders, Map.empty, path,
      tracker, log) > 0L)

    // duplicate the stored fact row with the SMALLEST natural key
    // (deterministically different from the delta key below, which is
    // the largest — so the contested-key dedup can't silently heal it)
    spark.read.parquet(path).orderBy("sales_nk").limit(1)
      .write.mode("append").parquet(path)
    val rowsBefore = spark.read.parquet(path).count()

    // new delta (strictly later edit for ONE key): the corrupted key is
    // uncontested, hence OUT of the gate's scope — the load publishes
    val shipType = lineitem.schema("l_shipdate").dataType
    val li2 = lineitem.unionByName(
      lineitem.orderBy(desc("l_orderkey"), desc("l_linenumber")).limit(1)
        .withColumn("l_shipdate", ntz("2099-01-01 00:00:00").cast(shipType)))
    assert(FactLoader.load(spark, li2, orders, Map.empty, path, tracker, log) > 0L)
    // contested key was deduped to its latest edit; corrupt dup remains
    // for the post-publish sweep to report
    val published = spark.read.parquet(path)
    assert(published.count() == rowsBefore)
    assert(Checks.duplicates(published, Seq("sales_nk")).count() == 1L)
  }

  test("run log records SCD2 close-out and delete counts") {
    val root = Files.createTempDirectory("graft_counts").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val log = new RunLog(spark, s"$root/log")
    val path = s"$root/dim_thing"
    val dim = new Scd2Dimension("thing", "nk", "valid_from", Seq("attr"))
    def snap(keys: Long*) = keys.toSeq.toDF("nk")

    // run 1: initial — 3 inserted, nothing updated/deleted
    dim.load(spark, feedOf(Seq((1L, "a", "2024-01-01 00:00:00"),
      (2L, "b", "2024-01-01 00:00:00"), (3L, "c", "2024-01-01 00:00:00"))),
      Some(snap(1L, 2L, 3L)), path, tracker, log)

    // run 2: key 1 gets a new version (one close-out) and key 3
    // vanishes from the snapshot (one delete close-out)
    dim.load(spark, feedOf(Seq((1L, "a", "2024-01-01 00:00:00"),
      (2L, "b", "2024-01-01 00:00:00"), (3L, "c", "2024-01-01 00:00:00"),
      (1L, "a2", "2024-02-01 00:00:00"))),
      Some(snap(1L, 2L)), path, tracker, log)

    val rows = log.read().filter(col("run_name") === "etl_load_thing")
      .orderBy("started_at")
      .select("rows_inserted", "rows_updated", "rows_deleted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 2)
    assert(rows(0) == ((3L, 0L, 0L)), s"initial run: ${rows(0)}")
    assert(rows(1) == ((1L, 1L, 1L)), s"incremental run: ${rows(1)}")

    // published state agrees with the logged counts
    val published = spark.read.parquet(path)
    assert(published.filter(col("nk") === 1L).count() == 2L)
    assert(published.filter(col("nk") === 1L &&
      col("is_current") === 1L).count() == 1L)
    assert(published.filter(col("nk") === 3L &&
      col("is_current") === 1L).count() == 0L)
  }

  test("structure check reports missing warehouse tables") {
    val root = Files.createTempDirectory("graft_struct").toString
    new java.io.File(s"$root/present").mkdirs()
    val missing = Checks.structure(spark, Seq(
      "present" -> s"$root/present",
      "absent" -> s"$root/absent"))
    assert(missing == Seq("absent" -> s"$root/absent"))
  }
}
