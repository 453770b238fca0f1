package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dims.{Scd2, Scd2Dimension}
import graft.meta.{LoadTracker, RunLog}

/** Incremental dimension maintenance: two-phase loading must (a) keep
  * phase-1 surrogate keys stable — previously loaded fact rows store
  * them — and (b) converge to the same version set as a one-shot load
  * over the full history, and (c) a no-data rerun must not rewrite. */
class IncrementalScd2Spec extends SparkSpec {

  private lazy val feed = Queries.eventsTable(spark, sf).select(
    col("user_id"), col("event_type"), col("value"),
    col("ts").as("valid_from"), col("event_id"))

  test("two-phase load keeps SKs stable and converges to one-shot result") {
    val root = Files.createTempDirectory("graft_inc").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val log = new RunLog(spark, s"$root/log")
    val dimPath = s"$root/dim_user_profile"
    val dim = new Scd2Dimension("user_profile", "user_id", "valid_from",
      Seq("event_type", "value"), Seq("event_id"))

    val half = (feed.count() / 2).toInt
    val cut = feed.select("valid_from").orderBy("valid_from").limit(half)
      .agg(max("valid_from")).first().getAs[java.time.LocalDateTime](0)
    val phase1 = feed.filter(col("valid_from") <= lit(cut))

    // phase 1: only the early half is visible
    val n1 = dim.load(spark, phase1, None, dimPath, tracker, log)
    assert(n1 > 0)
    def skMap(): Map[(Long, Any, Long), Long] =
      spark.read.parquet(dimPath)
        .select("user_id", "active_from", "event_id", "user_profile_id")
        .collect()
        .map(r => (r.getLong(0), r.get(1), r.getLong(2)) -> r.getLong(3))
        .toMap
    val skPhase1 = skMap()

    // phase 2: full feed; the watermark turns only the late half
    // into a delta
    val n2 = dim.load(spark, feed, None, dimPath, tracker, log)
    assert(n2 > 0)
    val skPhase2 = skMap()

    // (a) SK stability: every phase-1 version identity keeps its SK
    skPhase1.foreach { case (identity, sk) =>
      assert(skPhase2.get(identity).contains(sk),
        s"SK for $identity changed: $sk -> ${skPhase2.get(identity)}")
    }
    // and new SKs never collide
    assert(skPhase2.values.toSeq.distinct.size == skPhase2.size)

    // (b) convergence: version intervals equal a one-shot derivation
    // (same collapse rules as the loader)
    val oneShot = Scd2.deriveVersions(
      Scd2.dropNoOpChanges(
        feed.dropDuplicates(Seq("user_id", "valid_from", "event_id")),
        "user_id", "valid_from", Seq("event_type", "value"),
        Seq("event_id")),
      "user_id", "valid_from", Seq("event_id"))
      .select("user_id", "event_id", "active_from", "active_to",
        "is_current")
      .orderBy("user_id", "active_from", "event_id").collect()
    val incremental = spark.read.parquet(dimPath)
      .select("user_id", "event_id", "active_from", "active_to",
        "is_current")
      .orderBy("user_id", "active_from", "event_id").collect()
    assert(incremental.toSeq == oneShot.toSeq)

    // (c) invariants + no-op rerun leaves the table untouched
    val multiCurrent = spark.read.parquet(dimPath)
      .filter(col("is_current") === 1L)
      .groupBy("user_id").count().filter(col("count") > 1).count()
    assert(multiCurrent == 0)

    val before = spark.read.parquet(dimPath)
      .orderBy("user_id", "active_from", "event_id").collect()
    val n3 = dim.load(spark, feed, None, dimPath, tracker, log)
    assert(n3 == 0)
    val after = spark.read.parquet(dimPath)
      .orderBy("user_id", "active_from", "event_id").collect()
    assert(before.toSeq == after.toSeq)
  }

  test("two-phase fact load converges to the one-shot fact") {
    import graft.facts.FactLoader
    val root = Files.createTempDirectory("graft_inc_fact").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val log = new RunLog(spark, s"$root/log")
    val factPath = s"$root/factsales"
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")

    // split on edit time exactly as the loader computes it
    val edits = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(greatest(col("l_shipdate"), col("o_orderdate")).as("e"))
    val half = (edits.count() / 2).toInt
    val cut = edits.orderBy("e").limit(half).agg(max("e"))
      .first().getAs[java.time.LocalDateTime](0)

    val li1 = lineitem.join(
        orders.select(col("o_orderkey").as("__ok"), col("o_orderdate")),
        col("l_orderkey") === col("__ok"))
      .filter(greatest(col("l_shipdate"), col("o_orderdate")) <= lit(cut))
      .drop("__ok", "o_orderdate")

    val n1 = FactLoader.load(spark, li1, orders, Map.empty, factPath,
      tracker, log)
    assert(n1 > 0)
    val n2 = FactLoader.load(spark, lineitem, orders, Map.empty, factPath,
      tracker, log)
    assert(n2 > 0)

    // one-shot over everything with a fresh tracker
    val tracker2 = new LoadTracker(spark, s"$root/tracker2")
    val oneShotPath = s"$root/factsales_oneshot"
    FactLoader.load(spark, lineitem, orders, Map.empty, oneShotPath,
      tracker2, log)

    val a = spark.read.parquet(factPath).orderBy("sales_nk").collect()
    val b = spark.read.parquet(oneShotPath).orderBy("sales_nk").collect()
    assert(a.length == b.length && a.nonEmpty)
    assert(a.toSeq == b.toSeq)

    // rerun with no new edits: 0 rows and untouched files
    val n3 = FactLoader.load(spark, lineitem, orders, Map.empty, factPath,
      tracker, log)
    assert(n3 == 0)
  }

  test("fact correction: a newer edit of a stored key replaces it " +
      "(keep-latest), and reloading the same source changes nothing") {
    import graft.facts.FactLoader
    val root = Files.createTempDirectory("graft_fact_fix").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val log = new RunLog(spark, s"$root/log")
    val factPath = s"$root/factsales"
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    FactLoader.load(spark, lineitem, orders, Map.empty, factPath,
      tracker, log)
    val nRows = spark.read.parquet(factPath).count()

    // the source gains a later edit of one stored line, quantity 999
    val line = lineitem.orderBy(desc("l_orderkey"), desc("l_linenumber"))
      .limit(1)
    val nk = line.select(FactLoader.salesNk).first().getString(0)
    val corrected = lineitem.unionByName(line
      .withColumn("l_shipdate", lit("2099-01-01 00:00:00")
        .cast(lineitem.schema("l_shipdate").dataType))
      .withColumn("l_quantity",
        lit(999).cast(lineitem.schema("l_quantity").dataType)))
    assert(FactLoader.load(spark, corrected, orders, Map.empty, factPath,
      tracker, log) == 1L)
    def fact() = spark.read.parquet(factPath).orderBy("sales_nk").collect()
    val got = fact()
    assert(got.length == nRows)
    assert(got.filter(_.getAs[String]("sales_nk") == nk)
      .map(_.getAs[java.math.BigDecimal]("quantity").intValue).toSeq ==
      Seq(999), s"key $nk must hold its latest edit")
    val updated = log.read()
      .filter(col("run_name") === "etl_load_factsales")
      .orderBy("started_at").select("rows_updated").collect()
      .map(_.getLong(0)).toSeq
    assert(updated == Seq(0L, 1L), s"rows_updated per load: $updated")

    // equal to keep-latest over everything delivered, in one load
    val oneShot = s"$root/factsales_oneshot"
    FactLoader.load(spark, corrected, orders, Map.empty, oneShot,
      new LoadTracker(spark, s"$root/tracker2"), log)
    assert(got.toSeq ==
      spark.read.parquet(oneShot).orderBy("sales_nk").collect().toSeq)

    // reloading the same source: nothing new past the watermark
    assert(FactLoader.load(spark, corrected, orders, Map.empty, factPath,
      tracker, log) == 0L)
    assert(fact().toSeq == got.toSeq)
  }
}
