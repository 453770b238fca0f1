package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checks.Checks
import graft.meta.StagedWrite
import graft.schema.Warehouse

/** The fused Stage-5 sweep ([[Checks.factSweep]], [[Checks.dimSweep]],
  * [[Checks.dateSweep]]) against the per-check functions it replaces,
  * on a warehouse with one planted violation of every kind — plus a
  * duplicated dimension surrogate id, which no check names but which
  * would fan fact rows out into false duplicates if a probe joined it
  * unaggregated. */
class SweepParitySpec extends SparkSpec {

  private val dimKeys = Seq("customer" -> "c_custkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey", "user_profile" -> "user_id")

  test("fused sweep counts equal the per-check counts; strict runAll names each") {
    val root = Files.createTempDirectory("graft_sweep").toString
    val wh = Warehouse(root)
    Pipeline.runAll(spark, sf, root, strict = true)
    def table(n: String): DataFrame = spark.read.parquet(wh.int(n))
    def plant(n: String)(f: DataFrame => DataFrame): Unit =
      StagedWrite.overwrite(f(table(n)), wh.int(n))
    def ts(s: String) = lit(LocalDateTime.parse(s))
    val dangling = 999999999L

    // a fact-referenced customer id gets a second (historic) row: a
    // duplicated surrogate id, with no interval overlap
    val sharedId = table("factsales").filter(col("customer_sk") =!= -1L)
      .agg(min("customer_sk")).first().getLong(0)
    plant("dim_customer") { d =>
      val maxId = d.agg(max("customer_id")).first().getLong(0)
      val shared = d.filter(col("customer_id") === sharedId)
        .withColumn("active_from", ts("1899-01-01T00:00"))
        .withColumn("active_to", ts("1899-06-01T00:00"))
        .withColumn("is_current", lit(0L))
      // another key gets two current versions that tile without overlap
      val split = d.filter(col("customer_id") === maxId)
      d.filter(col("customer_id") =!= maxId)
        .unionByName(split.withColumn("active_to", ts("1990-01-01T00:00")))
        .unionByName(split.withColumn("active_from", ts("1990-01-01T00:00"))
          .withColumn("customer_id", lit(maxId + 1)))
        .unionByName(shared)
    }
    // an overlapping, closed version inside a live one
    plant("dim_part") { d =>
      val maxId = d.agg(max("part_id")).first().getLong(0)
      d.unionByName(d.filter(col("part_id") === maxId)
        .withColumn("active_from", ts("1900-01-03T00:00"))
        .withColumn("active_to", ts("1900-01-04T00:00"))
        .withColumn("is_current", lit(0L))
        .withColumn("part_id", lit(maxId + 1)))
    }
    // a NULL validity bound
    plant("dim_supplier") { d =>
      val maxId = d.agg(max("supplier_id")).first().getLong(0)
      d.withColumn("active_to",
        when(col("supplier_id") === maxId, lit(null)).otherwise(col("active_to")))
    }
    // one dangling surrogate per dimension and one duplicate natural key
    val nks = table("factsales").select("sales_nk").orderBy("sales_nk")
      .limit(4).collect().map(_.getString(0))
    plant("factsales") { f =>
      val dims = Seq("customer", "part", "supplier")
      dims.zip(nks).foldLeft(f) { case (acc, (d, nk)) =>
        acc.withColumn(s"${d}_sk",
          when(col("sales_nk") === nk, lit(dangling)).otherwise(col(s"${d}_sk")))
      }.unionByName(f.filter(col("sales_nk") === nks(3)))
    }
    plant("dim_date")(d => d.unionByName(d.orderBy("date_value").limit(1)))

    val fact = table("factsales")
    val dimDate = table("dim_date")
    val dims = dimKeys.map { case (n, nk) => (n, nk, table(s"dim_$n")) }
    val refDims = dims.take(3)
    val perCheck: Map[String, Long] =
      refDims.map { case (n, _, d) =>
        s"ref_$n" -> Checks.refIntegrityViolations(
          fact.filter(col(s"${n}_sk") =!= -1L), d.select(s"${n}_id"),
          col(s"${n}_sk"), col(s"${n}_id")).count()
      }.toMap ++ Map(
        "dup_fact_nk" -> Checks.duplicates(fact, Seq("sales_nk")).count(),
        "dup_date" -> Checks.duplicates(dimDate, Seq("date_value")).count()) ++
      dims.flatMap { case (n, nk, d) => Seq(
        s"multi_current_$n" -> Checks.multipleCurrent(d, nk).count(),
        s"null_validity_$n" -> Checks.nullValidity(d).count(),
        s"overlaps_$n" -> Checks.overlaps(d, nk, Seq(col("active_to"))).count())
      }.toMap
    val planted = Map("ref_customer" -> 1L, "ref_part" -> 1L, "ref_supplier" -> 1L,
      "dup_fact_nk" -> 1L, "multi_current_customer" -> 1L, "overlaps_part" -> 1L,
      "null_validity_supplier" -> 1L, "dup_date" -> 1L)
    assert(perCheck.filter(_._2 != 0L) == planted, "each plant trips one check")

    val fused = Checks.factSweep(fact, refDims.map { case (n, _, d) => n -> d }) ++
      Checks.dimSweep(dims) ++ Checks.dateSweep(dimDate)
    assert(fused - "dim_date_rows" == perCheck)
    assert(fused("dim_date_rows") == dimDate.count())

    // through runAll: the loads are no-ops (no planted row changes a
    // source-visible key), but the date dimension is rebuilt every run,
    // so its planted duplicate is gone before the sweep sees it
    val lax = Pipeline.runAll(spark, sf, root)
    assert(lax.violations.keySet == perCheck.keySet + "structure_missing")
    assert(lax.violations == perCheck + ("dup_date" -> 0L) + ("structure_missing" -> 0L))
    val e = intercept[IllegalStateException](Pipeline.runAll(spark, sf, root, strict = true))
    (planted - "dup_date").foreach { case (name, n) =>
      assert(e.getMessage.contains(s"($name,$n)"), s"$name missing from: ${e.getMessage}")
    }
    assert(!e.getMessage.contains("dup_date"))
  }
}
