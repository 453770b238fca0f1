package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.parquet.{DriverParquet, FooterStats}
import org.apache.spark.sql.functions._

import graft.dims.Scd2Dimension
import graft.meta.{LoadTracker, RunLog, StagedWrite}
import graft.schema.Tables

/** A load skips its stats action when the source footers prove the
  * delta empty, and a no-op load writes its tracker and run-log rows on
  * the driver. Neither shortcut may hide a row past the watermark or
  * leave the control plane unreadable.
  *
  * The source is an `events` feed whose `ts` is a NANOS-as-long column
  * (as the fixtures' `nanosAsLong` read gives), loaded through the
  * production conversion ([[Queries.eventsTable]]) into the SCD2
  * `user_profile` dim, as `Pipeline.runAll` loads it. Every `ts` has a
  * sub-microsecond part, which the conversion truncates. */
class NoHiddenDeltaSpec extends SparkSpec {

  private val T0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def nanos(t: LocalDateTime): Long =
    java.time.Duration.between(LocalDateTime.of(1970, 1, 1, 0, 0), t).toNanos

  /** `T0` plus 0 to n - 1 minutes. */
  private def minutes(n: Int): Seq[LocalDateTime] = (0 until n).map(m => T0.plusMinutes(m.toLong))

  /** Writes one file of events at `ts`, each 999 ns past its
    * microsecond, to `dir/events.parquet` under `mode`. */
  private def writeEvents(dir: String, ts: Seq[LocalDateTime], mode: String = "overwrite",
                          stats: Boolean = true): Unit = {
    import spark.implicits._
    ts.zipWithIndex.map { case (t, i) => (i.toLong % 3, "view", i.toDouble, nanos(t) + 999L, i.toLong) }
      .toDF("user_id", "event_type", "value", "ts", "event_id").coalesce(1)
      .write.mode(mode)
      .option("parquet.column.statistics.enabled", stats.toString)
      .parquet(s"$dir/events.parquet")
  }

  private def feed(dir: String): DataFrame =
    Queries.eventsTable(spark, dir).select(col("user_id"), col("event_type"),
      col("value"), col("ts").as("valid_from"), col("event_id"))

  private val dim = new Scd2Dimension("user_profile", "user_id", "valid_from",
    Seq("event_type", "value"), Seq("event_id"))

  /** One load of `dir`'s feed into `root`'s warehouse: rows inserted,
    * Spark jobs run. `tracker` is read on its first use only, as one
    * run of `Pipeline.runAll` reads it. */
  private def load(dir: String, root: String, tracker: LoadTracker): (Long, Int) =
    jobsDuring(dim.load(spark, feed(dir), None, s"$root/dim", tracker,
      new RunLog(spark, s"$root/log")))

  private def watermark(root: String): LocalDateTime =
    new LoadTracker(spark, s"$root/tracker").watermark("user_profile")

  /** A source dir, a warehouse root and its tracker. */
  private def fresh(name: String): (String, String, LoadTracker) = {
    val base = Files.createTempDirectory(name).toString
    (s"$base/src", s"$base/wh", new LoadTracker(spark, s"$base/wh/tracker"))
  }

  test("a source whose max equals the watermark is skipped, with no Spark job") {
    val (src, root, tracker) = fresh("graft_nhd_eq")
    writeEvents(src, minutes(20))
    assert(load(src, root, tracker)._1 == 20L)
    // the watermark is the truncated max, and so is the footer bound
    val wm = watermark(root)
    assert(wm == T0.plusMinutes(19))
    assert(FooterStats.upperBound(feed(src), "valid_from").contains(wm))
    val (inserted, jobs) = load(src, root, tracker)
    assert(inserted == 0L)
    assert(jobs == 0, s"a proven-empty load ran $jobs Spark jobs")
    assert(watermark(root) == wm)
    assert(new RunLog(spark, s"$root/log").read().count() == 2L)
  }

  test("a source file rewritten with one row at watermark + 1 µs is loaded") {
    val (src, root, tracker) = fresh("graft_nhd_plus")
    writeEvents(src, minutes(20))
    assert(load(src, root, tracker)._1 == 20L)
    val wm = watermark(root)
    writeEvents(src, minutes(20) :+ wm.plusNanos(1000))
    assert(load(src, root, tracker)._1 == 1L)
    assert(watermark(root) == wm.plusNanos(1000))
    assert(spark.read.parquet(s"$root/dim").count() == 21L)
  }

  test("a file written without column statistics falls back to the action and loads") {
    val (src, root, tracker) = fresh("graft_nhd_nostats")
    writeEvents(src, minutes(20))
    assert(load(src, root, tracker)._1 == 20L)
    val wm = watermark(root)
    // a second file beside the first, whose footer bounds `ts` at `wm`
    writeEvents(src, Seq(wm.plusNanos(1000)), mode = "append", stats = false)
    assert(FooterStats.upperBound(feed(src), "valid_from").isEmpty,
      "the file must carry no max for the bound to be in doubt")
    assert(load(src, root, tracker)._1 == 1L)
    assert(watermark(root) == wm.plusNanos(1000))
  }

  test("a snapshot missing one key is closed out though its delta is proven empty") {
    val root = Files.createTempDirectory("graft_nhd_gone").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val log = new RunLog(spark, s"$root/log")
    val supplier = new Scd2Dimension("supplier", "s_suppkey", "valid_from", Seq("s_name"))
    def load(src: DataFrame): (Long, Seq[String]) = jobSitesDuring(supplier.load(spark,
      src.withColumn("valid_from", lit(LocalDateTime.of(1900, 1, 2, 0, 0))),
      Some(src.select("s_suppkey")), s"$root/dim", tracker, log))
    val src = Tables.src(spark, sf, "supplier")
    assert(load(src)._1 > 0L)
    val gone = src.agg(min("s_suppkey")).first().getLong(0)
    val (inserted, sites) = load(src.filter(col("s_suppkey") =!= gone))
    assert(inserted == 0L)
    assert(!sites.exists(_.contains("graft.meta.LoadTransaction$.run")),
      s"the literal-dated delta ran a stats action:\n${bySite(sites)}")
    val closed = spark.read.parquet(s"$root/dim").filter(col("s_suppkey") === gone)
      .select("is_current").collect().map(_.getLong(0)).toSeq
    assert(closed == Seq(0L), s"the vanished key's versions: $closed")
    assert(log.read().orderBy(col("started_at").desc).select("rows_deleted").first().getLong(0) == 1L)
  }

  test("driver-written log and tracker files read back as a Spark write's do") {
    val root = Files.createTempDirectory("graft_nhd_rows").toString
    val log = new RunLog(spark, s"$root/log")
    log.append("etl_load_x", java.sql.Timestamp.valueOf("2024-01-01 00:00:00.123456"),
      3L, 2L, 1L, RunLog.Fail, Some("boom"))
    log.append("etl_load_y", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
      0L, 0L, 0L, RunLog.Success, None)
    val tracker = new LoadTracker(spark, s"$root/tracker")
    tracker.advance("a", Some(T0))
    tracker.advance("b", None)
    Seq(("log", RunLog.schema), ("tracker", LoadTracker.schema)).foreach { case (t, schema) =>
      val rows = spark.read.schema(schema).parquet(s"$root/$t").collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$root/$t-spark")
      // schema inference, as the benchmark's run-log and tracker reads do
      val driver = spark.read.parquet(s"$root/$t")
      val written = spark.read.parquet(s"$root/$t-spark")
      assert(driver.schema == written.schema, s"$t schema")
      assert(driver.collect().toSet == written.collect().toSet, s"$t rows")
    }
  }

  test("a driver write that throws mid-file leaves no part file and the old tracker") {
    val root = Files.createTempDirectory("graft_nhd_crash").toString
    val log = new RunLog(spark, s"$root/log")
    log.append("etl_load_x", new java.sql.Timestamp(0L), 1L, 0L, 0L, RunLog.Success, None)
    new LoadTracker(spark, s"$root/tracker").advance("x", Some(T0))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def logFiles = fs.listStatus(new Path(s"$root/log")).map(_.getPath.getName)
      .filterNot(_.endsWith(".crc")).toSet
    def visible(files: Set[String]) = files.filterNot(n => n.startsWith("_") || n.startsWith("."))
    val before = logFiles
    // the files a reader would see at the instant of the throw, as if
    // the process died there
    var atThrow = Set.empty[String]
    def boom = Iterator.single(()).map[Row] { _ =>
      atThrow = logFiles
      throw new RuntimeException("injected")
    }
    val logRow = Row("etl_load_x", new java.sql.Timestamp(0L), new java.sql.Timestamp(0L),
      1L, 0L, 0L, RunLog.Success, null)

    intercept[RuntimeException](
      DriverParquet.write(spark, s"$root/log", RunLog.schema, Iterator(logRow) ++ boom))
    assert(atThrow.size > before.size, "the write must have opened its file")
    assert(visible(atThrow) == visible(before), s"visible mid-write: ${atThrow -- before}")
    assert(logFiles == before, s"files left: ${logFiles -- before}")
    assert(log.read().count() == 1L)

    val trackerRow = Row("x", T0.plusDays(1), T0)
    intercept[RuntimeException](StagedWrite.publish(spark, s"$root/tracker")(
      DriverParquet.write(spark, _, LoadTracker.schema, Iterator(trackerRow) ++ boom)))
    assert(new LoadTracker(spark, s"$root/tracker").watermark("x") == T0)
  }
}
