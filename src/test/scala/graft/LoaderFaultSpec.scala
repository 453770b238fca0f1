package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dims.Scd2Dimension
import graft.facts.FactLoader
import graft.meta.{LoadTracker, RunLog}
import graft.schema.Tables

/** Fault injection in the window between a load's publish and its
  * watermark advance (`StagedWrite.overwrite`, then `tracker.advance`,
  * in the `LoadTransaction` that `Scd2Dimension.load` and
  * `FactLoader.load` share). A crash there
  * leaves the new table published under the old watermark. The rerun
  * must re-read the same delta and converge to the same table; the
  * watermark must never run ahead of what the table holds; the run log
  * must show the FAIL and then the SUCCESS. */
class LoaderFaultSpec extends SparkSpec {

  /** A tracker whose `advance` fails: the load has already published
    * its table when it calls it. */
  private def crashingTracker(path: String): LoadTracker =
    new LoadTracker(spark, path) {
      override def advance(table: String, wm: Option[LocalDateTime]): Unit =
        throw new RuntimeException(s"injected crash before advancing $table")
    }

  private def watermark(root: String, table: String): LocalDateTime =
    new LoadTracker(spark, s"$root/tracker").watermark(table)

  private def statuses(root: String, table: String): Seq[String] =
    new RunLog(spark, s"$root/log").read()
      .filter(col("run_name") === s"etl_load_$table")
      .orderBy("started_at", "ended_at").select("status")
      .collect().map(_.getString(0)).toSeq

  private def rows(path: String, key: String*): Seq[Row] =
    spark.read.parquet(path).orderBy(key.map(col): _*).collect().toSeq

  test("SCD2 dim: a crash between publish and advance reruns idempotently") {
    val root = Files.createTempDirectory("graft_fault_dim").toString
    val log = new RunLog(spark, s"$root/log")
    val path = s"$root/dim_user_profile"
    val feed = Queries.eventsTable(spark, sf).select(
      col("user_id"), col("event_type"), col("value"),
      col("ts").as("valid_from"), col("event_id"))
    val dim = new Scd2Dimension("user_profile", "user_id", "valid_from",
      Seq("event_type", "value"), Seq("event_id"))
    def load(tracker: LoadTracker, f: DataFrame): Long =
      dim.load(spark, f, None, path, tracker, log)
    val key = Seq("user_id", "active_from", "event_id")

    val ts = feed.select("valid_from").distinct().orderBy("valid_from")
      .collect().map(_.getAs[LocalDateTime](0))
    val cut = ts(ts.length / 2)
    assert(load(new LoadTracker(spark, s"$root/tracker"),
      feed.filter(col("valid_from") <= lit(cut))) > 0L)
    val wm1 = watermark(root, "user_profile")
    assert(wm1 == cut)

    intercept[RuntimeException](load(crashingTracker(s"$root/tracker"), feed))
    val published = rows(path, key: _*)
    // the table moved on, the watermark did not
    val tableMax = spark.read.parquet(path).agg(max("active_from"))
      .first().getAs[LocalDateTime](0)
    assert(tableMax.isAfter(wm1), "the crashed load must have published")
    assert(watermark(root, "user_profile") == wm1,
      "watermark must not move when its advance never ran")

    // rerun: the same delta again, the same table, now a moved watermark
    assert(load(new LoadTracker(spark, s"$root/tracker"), feed) > 0L)
    assert(rows(path, key: _*) == published, "rerun after the crash must converge")
    assert(watermark(root, "user_profile") == ts.last)
    // and a second rerun is a no-op
    assert(load(new LoadTracker(spark, s"$root/tracker"), feed) == 0L)
    assert(rows(path, key: _*) == published)
    assert(statuses(root, "user_profile") ==
      Seq(RunLog.Success, RunLog.Fail, RunLog.Success, RunLog.Success))
  }

  test("fact: a crash between publish and advance reruns idempotently") {
    val root = Files.createTempDirectory("graft_fault_fact").toString
    val log = new RunLog(spark, s"$root/log")
    val path = s"$root/factsales"
    val lineitem = Tables.src(spark, sf, "lineitem")
    val orders = Tables.src(spark, sf, "orders")
    def load(tracker: LoadTracker, li: DataFrame): Long =
      FactLoader.load(spark, li, orders, Map.empty, path, tracker, log)

    val edit = greatest(col("l_shipdate"), col("o_orderdate"))
    val edits = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(edit.as("e")).distinct().orderBy("e")
      .collect().map(_.getAs[LocalDateTime](0))
    val cut = edits(edits.length / 2)
    val early = lineitem.join(
        orders.select(col("o_orderkey").as("__ok"), col("o_orderdate")),
        col("l_orderkey") === col("__ok"))
      .filter(greatest(col("l_shipdate"), col("o_orderdate")) <= lit(cut))
      .drop("__ok", "o_orderdate")
    assert(load(new LoadTracker(spark, s"$root/tracker"), early) > 0L)
    val wm1 = watermark(root, "factsales")
    assert(wm1 == cut)

    intercept[RuntimeException](load(crashingTracker(s"$root/tracker"), lineitem))
    val published = rows(path, "sales_nk")
    val tableMax = spark.read.parquet(path).agg(max("last_edited"))
      .first().getAs[LocalDateTime](0)
    assert(tableMax == edits.last, "the crashed load must have published")
    assert(watermark(root, "factsales") == wm1,
      "watermark must not move when its advance never ran")

    assert(load(new LoadTracker(spark, s"$root/tracker"), lineitem) > 0L)
    assert(rows(path, "sales_nk") == published, "rerun after the crash must converge")
    assert(watermark(root, "factsales") == edits.last)
    assert(load(new LoadTracker(spark, s"$root/tracker"), lineitem) == 0L)
    assert(rows(path, "sales_nk") == published)
    assert(statuses(root, "factsales") ==
      Seq(RunLog.Success, RunLog.Fail, RunLog.Success, RunLog.Success))
  }
}
