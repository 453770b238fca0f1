package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalacheck.Gen

import graft.ext.{Dedup, FuzzyJoin, Graph, Profiler}

/** Randomized property pins for the round-8 kernels: the fixtures
  * exercise the designed-for cases; these generators walk the
  * boundary cases (segment-length edges, tie storms, duplicate rows,
  * degenerate graphs) where a lossless-blocking or exact-rank claim
  * actually breaks if it is going to. Samples are drawn through
  * scalacheck generators (CdcSpec's pattern); each property runs a
  * fixed number of sampled corpora so the suite stays fast. */
class Round8PropSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("degreeHistogram matches a driver-side brute reference on " +
    "random multigraph-ish edge lists") {
    // small id space forces duplicate edges (deduped by caller
    // contract? no — degreeHistogram takes edges as given), ties in
    // the degree histogram, and single-node hubs; the brute reference
    // recomputes deciles by sorting all degrees on the driver
    val edgesGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(1, 40)
      es <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 12L)
        v <- Gen.choose(0L, 12L)
      } yield (math.min(u, v), math.max(u, v) + 1))
    } yield es.distinct
    samples(edgesGen, 10).foreach { es =>
      val r = Graph.degreeHistogram(es.toDF("u", "v")).collect()(0)
      // brute: degree per node over both orientations
      val deg = (es.map(_._1) ++ es.map(_._2))
        .groupBy(identity).view.mapValues(_.size.toLong).values.toSeq
      val sorted = deg.sorted
      val nNodes = sorted.size.toLong
      def pct(ppm: Long): Long = {
        val rank = (nNodes * ppm + 999999L) / 1000000L
        sorted(math.max(rank.toInt - 1, 0))
      }
      assert(r.getAs[Long]("n_nodes") == nNodes, s"n_nodes on $es")
      assert(r.getAs[Long]("n_edges") == deg.sum / 2, s"n_edges on $es")
      assert(r.getAs[Long]("d_p10") == pct(100000L), s"p10 on $es")
      assert(r.getAs[Long]("d_p50") == pct(500000L), s"p50 on $es")
      assert(r.getAs[Long]("d_p90") == pct(900000L), s"p90 on $es")
      assert(r.getAs[Long]("d_p99") == pct(990000L), s"p99 on $es")
      assert(r.getAs[Long]("d_p999") == pct(999000L), s"p999 on $es")
      assert(r.getAs[Long]("d_max") == sorted.last, s"max on $es")
      assert(r.getAs[Long]("wedge_mass") == deg.map(d => d * d).sum,
        s"wedge mass on $es")
      assert(r.getAs[Long]("wedge_per_edge_ppm") ==
        deg.map(d => d * d).sum * 1000000L / deg.sum, s"ppm on $es")
    }
  }

  test("editNeardup blocking is lossless on random short-alphabet strings") {
    // tiny alphabet + short lengths force segment/shift edge cases:
    // strings near k+1 chars, heavy duplicates, shared segments with
    // large shifts
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      n <- Gen.choose(4, 14)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(0, 14)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    samples(corpusGen, 8).foreach { rows =>
      val docs = rows.toDF("doc_id", "text")
      val fast = FuzzyJoin.editNeardup(docs, col("doc_id"), col("text"),
        40, 3).as[(Long, Long, Long)].collect().toSet
      val brute = FuzzyJoin.editNeardupBrute(docs, col("doc_id"),
        col("text"), 40, 3).as[(Long, Long, Long)].collect().toSet
      assert(fast == brute,
        s"blocking dropped/invented pairs on ${rows.mkString(",")}: " +
          s"missing=${brute -- fast} extra=${fast -- brute}")
    }
  }

  test("globalCumsum rank equals the single-window row_number on " +
    "random tied data") {
    val gen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(1, 60)
      vals <- Gen.listOfN(n, Gen.choose(0L, 5L)) // heavy ties
    } yield vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
    samples(gen, 6).foreach { rows =>
      val df = rows.toDF("v", "id")
      val fast = Profiler.equiDepthHist(df, col("v"), Seq(col("id")), 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      // ground truth from a plain unpartitioned window
      val n = rows.size
      val truth = df.withColumn("rk", row_number().over(
          Window.orderBy(col("v"), col("id"))))
        .withColumn("bin", expr(s"((rk - 1) * 4) div $n + 1"))
        .groupBy("bin")
        .agg(min("v").cast("long").as("lo"), max("v").cast("long").as("hi"),
          count(lit(1)).cast("long").as("n_rows"))
        .select(col("bin").cast("long"), col("lo"), col("hi"),
          col("n_rows"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(fast == truth, s"rank path diverged on $rows")
    }
  }

  test("pareto rank cumsum equals the plain-Scala cumsum on random data") {
    // the Rank.withPidAndBase core on arbitrary (value, unique-key)
    // data, including duplicate values, negative values, and sizes
    // around the shuffle-partition count where buckets go empty
    val gen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(1, 120)
      vals <- Gen.listOfN(n, Gen.choose(-4L, 4L))
    } yield vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
    // zero total would null cum_ppm (div by 0) — not the machinery
    // under test; skip those draws
    samples(gen, 6).filter(_.map(_._1).sum != 0).foreach { rows =>
      val df = rows.toDF("v", "id").repartition(5)
      def run(): Seq[(Long, Long, Long)] =
        Profiler.paretoAbc(
          df.select(col("id").as("l_partkey"),
            col("v").cast("decimal(14,2)").as("l_extendedprice")),
          col("l_partkey"), col("l_extendedprice"))
          .select(col("part_id"), col("rev_cents"), col("cum_ppm"))
          .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
      val base = run()
      // plain-Scala ground truth for the running total (desc by value,
      // asc by id — pareto's order)
      val total = rows.map(_._1 * 100).sum
      val want = rows.map { case (v, i) => (i, v * 100) }
        .sortBy { case (i, c) => (-c, i) }
        .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (i, c)) =>
          (i, c, cum + c) }.tail
        .map { case (i, c, cum) =>
          (i, c, (BigInt(cum) * 1000000 / total).toLong) }
        .sortBy(_._1)
      assert(base == want, s"cumsum diverged from scala on $rows")
    }
  }

  test("triangleCounts equals the naive join on random graphs") {
    val gen: Gen[Seq[(Long, Long)]] = for {
      nV <- Gen.choose(3, 12)
      nE <- Gen.choose(0, 30)
      es <- Gen.listOfN(nE, for {
        u <- Gen.choose(0L, nV - 1L)
        v <- Gen.choose(0L, nV - 1L)
      } yield (math.min(u, v), math.max(u, v)))
    } yield es.filter(e => e._1 != e._2).distinct
    samples(gen, 6).foreach { es =>
      val edges = (es :+ ((98L, 99L))).toDF("u", "v") // never empty
      val got = Graph.triangleCounts(edges)
        .as[(Long, Long)].collect().toMap
      // naive: count unordered triples pairwise connected
      val set = es.toSet
      def conn(a: Long, b: Long) =
        set.contains((math.min(a, b), math.max(a, b)))
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
      val naive = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for {
        Seq(a, b, c) <- verts.sorted.combinations(3)
        if conn(a, b) && conn(b, c) && conn(a, c)
      } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
      assert(got == naive.toMap, s"triangles diverged on $es")
    }
  }

  test("attributionAsof on random event streams: first-at-or-after " +
    "witness verified row by row") {
    import java.sql.Timestamp
    val gen: Gen[Seq[(Long, Long, Long, String)]] = for {
      n <- Gen.choose(2, 40)
      evs <- Gen.listOfN(n, for {
        user <- Gen.choose(1L, 4L)
        t <- Gen.choose(0L, 7200L) // seconds within two hours
        typ <- Gen.oneOf("click", "purchase", "view")
      } yield (user, t, typ))
    } yield evs.zipWithIndex.map { case ((u, t, ty), i) =>
      (i.toLong, u, t, ty)
    }
    samples(gen, 6).foreach { evs =>
      val df = evs.map { case (id, u, t, ty) =>
        (id, new Timestamp(1700000000000L + t * 1000L), u, ty, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val got = graft.ext.Sessions
        .attributionAsof(df, "click", "purchase", 1800L)
        .collect().map(r => r.getLong(1) ->
          (Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
      // reference: per click, scan the raw list for the first
      // purchase at-or-after (ties: purchase at same second counts,
      // smallest (ts, event_id) wins), null beyond tolerance
      val purchases = evs.filter(_._4 == "purchase")
      evs.filter(_._4 == "click").foreach { case (cid, cu, ct, _) =>
        val next = purchases.filter(p => p._2 == cu && p._3 >= ct)
          .sortBy(p => (p._3, p._1)).headOption
        val expect = next.flatMap { p =>
          if (p._3 - ct <= 1800L) Some(p._1) else None
        }
        assert(got(cid) == expect,
          s"click $cid: got ${got(cid)}, want $expect in $evs")
      }
    }
  }

  test("bandSelfJoinAgg bucketing is lossless on random values with " +
      "negatives, ties, and exact-delta gaps") {
    val gen: Gen[Seq[(Long, String, Long)]] = for {
      n <- Gen.choose(5, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("g1", "g2")
        // tight range + tiny delta forces boundary collisions:
        // duplicates, |diff| == delta, cross-zero pairs
        x <- Gen.choose(-25L, 25L)
      } yield (g, x))
    } yield rows.zipWithIndex.map { case ((g, x), i) => (i.toLong, g, x) }
    samples(gen, 8).foreach { rows =>
      val df = rows.toDF("k", "g", "x")
      val fast = FuzzyJoin.bandSelfJoinAgg(df, col("g"), col("k"),
        col("x"), 7L).as[(String, Long, Long, Long, Long)].collect().toSeq
      val brute = FuzzyJoin.bandSelfJoinAggBrute(df, col("g"), col("k"),
        col("x"), 7L).as[(String, Long, Long, Long, Long)].collect().toSeq
      assert(fast == brute, s"bucket/brute drift on $rows")
    }
  }

  test("intervalUnion coverage equals a driver-side exact union on " +
      "random event streams") {
    val gen: Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.choose(3, 40)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 3L)
        t <- Gen.choose(0L, 2000L) // seconds; pad 300 forces overlaps
      } yield (u, t))
    } yield rows.zipWithIndex.map { case ((u, t), i) =>
      (u, t, i.toLong + 1) }
    samples(gen, 8).foreach { rows =>
      val df = rows.map { case (u, t, id) =>
        (u, new java.sql.Timestamp(t * 1000L), id) }
        .toDF("user_id", "ts", "event_id")
      val got = graft.ext.Sessions.intervalUnion(df, 300L)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // exact union per user, driver-side sweep over sorted intervals
      val want = rows.groupBy(_._1).map { case (u, rs) =>
        val iv = rs.map(r => (r._2 * 1000000L, (r._2 + 300L) * 1000000L))
          .sortBy(identity)
        var spans = List.empty[(Long, Long)]
        iv.foreach { case (s, e) =>
          spans match {
            case (ps, pe) :: rest if s <= pe =>
              spans = (ps, math.max(pe, e)) :: rest
            case _ => spans = (s, e) :: spans
          }
        }
        u -> ((spans.length.toLong,
          spans.map(sp => sp._2 - sp._1).sum / 1000000L))
      }
      assert(got == want, s"interval drift on $rows")
    }
  }

  test("leakageScrub never drops eval docs and keeps train-internal dups") {
    val gen: Gen[Seq[(Long, String, String)]] = for {
      n <- Gen.choose(3, 10)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(3, 10)
        ws <- Gen.listOfN(len, Gen.oneOf("ga", "bu", "zo", "meu"))
        sp <- Gen.oneOf("train", "train", "val", "test")
      } yield (ws.mkString(" "), sp))
    } yield docs.zipWithIndex.map { case ((t, sp), i) => (i.toLong, t, sp) }
    samples(gen, 6).foreach { rows =>
      val docs = rows.toDF("doc_id", "text", "split")
      val got = Dedup.leakageScrub(docs, col("doc_id"), col("text"),
          col("split"), 3, 8, 2)
        .as[(Long, String, Long)].collect()
      assert(got.length == rows.length, "manifest must cover every doc")
      got.foreach { case (_, split, keep) =>
        if (split != "train") assert(keep == 1L, "eval doc dropped")
      }
    }
  }
}
