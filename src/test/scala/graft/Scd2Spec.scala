package graft

import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.dims.Scd2

/** SCD2 derivation invariants (SURVEY §5c): property-checked (plain
  * ScalaCheck generators sampled in-loop; the scalatest bridge
  * artifact isn't on the offline classpath), strictly stronger than
  * the reference's example-based Stage-5 suite.
  */
class Scd2Spec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("nk", LongType), StructField("attr", StringType),
    StructField("ts", TimestampNTZType), StructField("tie", LongType)))

  private def mkHistory(rows: Seq[(Long, String, LocalDateTime, Long)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (nk, a, ts, tie) => Row(nk, a, ts, tie) }, 2),
      schema)

  private val base = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

  private val historyGen: Gen[Seq[(Long, String, LocalDateTime, Long)]] =
    for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        nk <- Gen.choose(1L, 5L)
        attr <- Gen.oneOf("a", "b", "c")
        offset <- Gen.choose(0L, 1000L)
      } yield (nk, attr, base.plusMinutes(offset), 0L))
    } yield rows.zipWithIndex.map { case ((nk, a, ts, _), i) =>
      (nk, a, ts, i.toLong)
    }

  test("intervals tile per key: exactly one current, no overlaps, no gaps") {
    val samples = Iterator.continually(historyGen.sample)
      .flatten.take(15).toSeq
    samples.foreach { rows =>
      val versions = Scd2.deriveVersions(mkHistory(rows), "nk", "ts",
        Seq("tie")).cache()
      val perKey = versions
        .groupBy("nk")
        .agg(sum(col("is_current")).as("n_current"), count(lit(1)).as("n"))
        .collect()
      perKey.foreach { r =>
        assert(r.getLong(1) == 1L, s"key ${r.get(0)}: != 1 current row")
      }
      // adjacent versions chain exactly: next.active_from == prev.active_to
      val gaps = graft.checks.Checks.overlaps(versions, "nk").count()
      assert(gaps == 0L)
      val chained = versions.selectExpr("nk",
        "lead(active_from) over (partition by nk order by active_from) as nf",
        "active_to")
        .filter(col("nf").isNotNull && col("nf") =!= col("active_to")).count()
      assert(chained == 0L, "active_to must equal next active_from")
      versions.unpersist()
      ()
    }
  }

  test("current row has the MaxTs sentinel and latest attr wins") {
    val rows = Seq(
      (1L, "v1", base, 0L), (1L, "v2", base.plusHours(1), 1L),
      (2L, "x", base, 2L))
    val v = Scd2.deriveVersions(mkHistory(rows), "nk", "ts", Seq("tie"))
    val cur = v.filter(col("is_current") === 1L).orderBy("nk").collect()
    assert(cur.map(_.getAs[String]("attr")).toSeq == Seq("v2", "x"))
    assert(cur.forall(_.getAs[LocalDateTime]("active_to") == Scd2.MaxTs))
  }

  test("dropNoOpChanges removes consecutive identical versions") {
    val rows = Seq(
      (1L, "same", base, 0L), (1L, "same", base.plusHours(1), 1L),
      (1L, "diff", base.plusHours(2), 2L),
      (1L, "diff", base.plusHours(3), 3L))
    val out = Scd2.dropNoOpChanges(mkHistory(rows), "nk", "ts",
      Seq("attr"), Seq("tie"))
    assert(out.count() == 2L)
  }

  test("withSurrogate is dense, deterministic, offset-able") {
    val rows = Seq((3L, "c", base, 0L), (1L, "a", base, 1L),
      (2L, "b", base, 2L))
    val sks = Scd2.withSurrogate(mkHistory(rows), "sk", Seq("nk"))
      .orderBy("sk").collect().map(r => (r.getAs[Long]("sk"), r.getAs[Long]("nk")))
    assert(sks.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    val off = Scd2.withSurrogate(mkHistory(rows), "sk", Seq("nk"), 100L)
      .agg(min("sk")).head().getLong(0)
    assert(off == 101L)
  }

  test("withUnknownRow appends nk=-1 with given values") {
    val dim = mkHistory(Seq((1L, "a", base, 0L)))
    val out = Scd2.withUnknownRow(dim, Map("nk" -> lit(-1L),
      "attr" -> lit("Unknown"), "ts" -> lit(Scd2.MinTs), "tie" -> lit(0L)))
    assert(out.count() == 2L)
    assert(out.filter(col("nk") === -1L).head().getAs[String]("attr") == "Unknown")
  }

  test("asOfJoin resolves exactly one version per probe (half-open)") {
    val dim = Scd2.deriveVersions(mkHistory(Seq(
      (1L, "v1", base, 0L), (1L, "v2", base.plusHours(2), 1L))),
      "nk", "ts", Seq("tie"))
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, base.plusHours(1)),   // inside v1
        Row(1L, base.plusHours(2)),   // boundary -> v2 (half-open)
        Row(1L, base.minusHours(1)),  // before first -> no match
        Row(9L, base.plusHours(1)))), // unknown key -> no match
      StructType(Seq(StructField("pk", LongType),
        StructField("pts", TimestampNTZType))))
    val out = Scd2.asOfJoin(probes, dim, col("pk"), col("nk"), col("pts"))
    assert(out.count() == 4L) // left join keeps all probes, no fanout
    val matched = out.filter(col("attr").isNotNull)
      .orderBy("pts").collect().map(_.getAs[String]("attr"))
    assert(matched.toSeq == Seq("v1", "v2"))
  }

  private def mkProbes(rows: Seq[(Long, LocalDateTime, Long)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (pk, ts, pid) => Row(pk, ts, pid) }),
      StructType(Seq(StructField("pk", LongType),
        StructField("probe_ts", TimestampNTZType),
        StructField("pid", LongType))))

  private def mkDim(rows: Seq[(Long, String, LocalDateTime, LocalDateTime)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (nk, a, from, to) => Row(nk, a, from, to) }),
      StructType(Seq(StructField("nk", LongType),
        StructField("attr", StringType),
        StructField("active_from", TimestampNTZType),
        StructField("active_to", TimestampNTZType))))

  test("asOfJoin on property histories: one row per probe, matched iff " +
    "at or after the key's first change") {
    val samples = Iterator.continually(historyGen.sample)
      .flatten.take(25)
    samples.foreach { rows =>
      val dim = Scd2.deriveVersions(mkHistory(rows), "nk", "ts", Seq("tie"))
        .select("nk", "attr", "active_from", "active_to")
      // probe at, just after, and before each change point
      val probeRows = rows.map { case (nk, _, ts, tie) =>
        (nk, ts.plusSeconds(tie % 3 - 1), tie)
      }
      val out = Scd2.asOfJoin(mkProbes(probeRows), dim, col("pk"),
          col("nk"), col("probe_ts"))
        .select(col("pid"), col("attr"), col("active_from"))
        .collect()
      assert(out.length == probeRows.length, "a probe fanned out or vanished")
      val first = rows.groupBy(_._1).map { case (nk, rs) =>
        nk -> rs.map(_._3).reduce((a, b) => if (a.isBefore(b)) a else b)
      }
      val byPid = out.map(r => r.getLong(0) -> r).toMap
      probeRows.foreach { case (nk, ts, pid) =>
        val r = byPid(pid)
        assert(r.isNullAt(2) == ts.isBefore(first(nk)),
          s"probe $pid at $ts (key $nk, first change ${first(nk)})")
      }
    }
  }

  test("asOfJoin never stitches fields from different versions") {
    // v2 has a legitimately-NULL attr: probes in v2's interval must
    // see NULL attr WITH v2's bounds, not v1's attr carried forward
    val dim = mkDim(Seq((1L, "x", base, base.plusHours(1)),
      (1L, null, base.plusHours(1), Scd2.MaxTs)))
    val out = Scd2.asOfJoin(mkProbes(Seq((1L, base.plusHours(2), 1L))),
        dim, col("pk"), col("nk"), col("probe_ts"))
      .collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(out.head.fieldIndex("attr")),
      "v1's attr leaked into v2")
    assert(out.head.getAs[LocalDateTime]("active_from") == base.plusHours(1))
  }

  test("asOfJoin picks the live version among tied active_from") {
    // three simultaneous changes at t: two zero-width [t,t) versions
    // and the live [t,max) one — a probe at/after t must get the live
    // version deterministically
    val dim = Scd2.deriveVersions(mkHistory(Seq(
        (1L, "dead1", base, 0L), (1L, "dead2", base, 1L),
        (1L, "live", base, 2L))),
      "nk", "ts", Seq("tie"))
      .select("nk", "attr", "active_from", "active_to")
    val out = Scd2.asOfJoin(
        mkProbes(Seq((1L, base, 1L), (1L, base.plusHours(1), 2L))),
        dim, col("pk"), col("nk"), col("probe_ts"))
      .orderBy("pid").collect()
    assert(out.map(_.getAs[String]("attr")).toSeq == Seq("live", "live"))
  }

  test("asOfJoin respects gaps left by close-outs") {
    // version closed at +2h: probes after the close-out must NOT match
    val dim = mkDim(Seq((1L, "v1", base, base.plusHours(2))))
    val out = Scd2.asOfJoin(mkProbes(Seq(
        (1L, base.plusHours(1), 1L),    // inside -> v1
        (1L, base.plusHours(2), 2L),    // at close-out -> no match
        (1L, base.plusHours(3), 3L))),  // after -> no match
        dim, col("pk"), col("nk"), col("probe_ts"))
      .orderBy("pid").collect()
    assert(out.length == 3)
    assert(out(0).getAs[String]("attr") == "v1")
    assert(out(1).isNullAt(out(1).fieldIndex("attr")))
    assert(out(2).isNullAt(out(2).fieldIndex("attr")))
  }
}
