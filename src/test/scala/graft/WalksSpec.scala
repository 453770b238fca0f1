package graft

import org.apache.spark.sql.functions._

import graft.ext.Walks
import graft.functions.Hashing

/** Deterministic walks: structural invariants (every hop is an
  * edge), an exact driver-side brute twin of the hash selection, and
  * the co-occurrence window semantics. */
class WalksSpec extends SparkSpec {
  import spark.implicits._

  private def bridged = Seq((1L, 2L), (1L, 3L), (2L, 3L),
    (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("u", "v")

  /** Driver-side twin of the walk recursion — same coefficients,
    * same arithmetic. */
  private def bruteWalks(edges: Seq[(Long, Long)],
                         length: Int): Seq[(Long, Long, Long)] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).sorted }
    val P2 = Hashing.P2
    val (a, b) = Hashing.Perms(0)
    val stride = Hashing.Stage2._2
    adj.keys.toSeq.sorted.flatMap { start =>
      var cur = start
      (start, 0L, start) +: (1 to length).map { s =>
        val nbrs = adj(cur)
        val pick = (((start % P2) + s * stride) * a + b) % P2 % nbrs.size
        cur = nbrs(pick.toInt)
        (start, s.toLong, cur)
      }
    }
  }

  test("walks equal the driver-side hash-selection twin exactly") {
    val edgeSeq = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = Walks.walks(bridged, length = 3)
      .as[(Long, Long, Long)].collect().toSeq
    val want = bruteWalks(edgeSeq, length = 3)
      .sortBy(r => (r._1, r._2))
    assert(got == want)
  }

  test("every hop is a graph edge and every walk is full-length") {
    val w = Walks.walks(bridged, length = 3)
      .as[(Long, Long, Long)].collect().toSeq
    val edges = Set((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .flatMap(e => Set(e, (e._2, e._1)))
    val byWalk = w.groupBy(_._1)
    assert(byWalk.size == 6)
    byWalk.foreach { case (id, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      assert(rows.size == 4, s"walk $id not full length")
      assert(path.head == id, s"walk $id does not start at its node")
      path.sliding(2).foreach { case Seq(x, y) =>
        assert(edges((x, y)), s"walk $id hops non-edge $x->$y")
      }
    }
  }

  test("extendWalks(walks(3), 2) equals walks(5) bit-for-bit") {
    val full = Walks.walks(bridged, 5)
      .as[(Long, Long, Long)].collect().toSeq
    val extended = Walks.extendWalks(Walks.walks(bridged, 3),
        Walks.rankedAdjacency(bridged), fromLength = 3, extraSteps = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(extended == full)
  }

  test("walks are deterministic across reruns") {
    val a = Walks.walks(bridged, 3).collect().toSeq
    val b = Walks.walks(bridged, 3).collect().toSeq
    assert(a == b)
  }

  test("visitStats conserves visits and normalizes to ~1e6 ppm") {
    val vs = Walks.visitStats(bridged, length = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(vs.map(_._3).sum == 6L * 4L)  // 6 walks x (3+1) rows
    val ppm = vs.map(_._4).sum
    assert(ppm > 1000000L - vs.size && ppm <= 1000000L,
      s"ppm sum $ppm outside truncation band")
  }

  /** Driver-side twin of the biased (second-order) recursion. */
  private def bruteBiased(edges: Seq[(Long, Long)], length: Int,
                          wr: Long, wc: Long,
                          wo: Long): Seq[(Long, Long, Long)] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).sorted }
    val edgeSet = edges.map(e =>
      (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val P2 = Hashing.P2
    val (a0, b0) = Hashing.Perms(0)
    val (a1, b1) = Hashing.Perms(1)
    val stride = Hashing.Stage2._2
    adj.keys.toSeq.sorted.flatMap { start =>
      // step 1: uniform ranked pick, shared with the unbiased walk
      val n1 = adj(start)
      val pick1 = (((start % P2) + 1 * stride) * a0 + b0) % P2 % n1.size
      var prev = start
      var cur = n1(pick1.toInt)
      Seq((start, 0L, start), (start, 1L, cur)) ++
        (2 to length).map { s =>
          val cands = adj(cur)
          val ws = cands.map { nb =>
            if (nb == prev) wr
            else if (edgeSet((math.min(prev, nb), math.max(prev, nb)))) wc
            else wo
          }
          val raw = (((start % P2) + s * stride) * a1 + b1) % P2
          val sel = raw % ws.sum
          var acc = 0L; var idx = -1
          cands.indices.foreach { i =>
            if (idx < 0) { acc += ws(i); if (sel < acc) idx = i }
          }
          prev = cur; cur = cands(idx)
          (start, s.toLong, cur)
        }
    }
  }

  test("biasedWalks equal the driver-side second-order twin exactly") {
    val edgeSeq = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = Walks.biasedWalks(bridged, length = 3,
        wReturn = 1L, wCommon = 4L, wOut = 2L)
      .as[(Long, Long, Long)].collect().toSeq
    val want = bruteBiased(edgeSeq, 3, 1L, 4L, 2L)
      .sortBy(r => (r._1, r._2))
    assert(got == want)
    // one edge row duplicated: the neighbor list keeps both copies as
    // candidates, while classification stays a membership test (the
    // twin's edge SET) — a duplicate must not double a weight
    val dupSeq = edgeSeq :+ ((1L, 3L))
    val gotDup = Walks.biasedWalks(dupSeq.toDF("u", "v"), length = 3,
        wReturn = 1L, wCommon = 4L, wOut = 2L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(gotDup == bruteBiased(dupSeq, 3, 1L, 4L, 2L)
      .sortBy(r => (r._1, r._2)))
  }

  test("biased walks: every hop is an edge, full length, positive-weight guard") {
    val w = Walks.biasedWalks(bridged, 3, 1L, 4L, 2L)
      .as[(Long, Long, Long)].collect().toSeq
    val edges = Set((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .flatMap(e => Set(e, (e._2, e._1)))
    val byWalk = w.groupBy(_._1)
    assert(byWalk.size == 6)
    byWalk.foreach { case (id, rows) =>
      assert(rows.size == 4)
      rows.sortBy(_._2).map(_._3).sliding(2).foreach { case Seq(x, y) =>
        assert(edges((x, y)), s"walk $id hops non-edge $x->$y") }
    }
    intercept[IllegalArgumentException] {
      Walks.biasedWalks(bridged, 3, 0L, 4L, 2L)
    }
  }

  test("biasedWalks is orientation-invariant (edge rows need not be u<v)") {
    // same graph, half the rows stored reversed: the adjacency
    // symmetrizes, so the walk topology AND the common/outward
    // classification (a lookup over both orientations) are
    // orientation-proof
    val reversed = Seq((2L, 1L), (1L, 3L), (3L, 2L),
      (5L, 4L), (4L, 6L), (6L, 5L), (3L, 4L)).toDF("u", "v")
    val a = Walks.biasedWalks(bridged, 3, 1L, 4L, 2L)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Walks.biasedWalks(reversed, 3, 1L, 4L, 2L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("extendBiasedWalks(biased(3), 2) equals biased(5) bit-for-bit") {
    val full = Walks.biasedWalks(bridged, 5, 1L, 4L, 2L)
      .as[(Long, Long, Long)].collect().toSeq
    val extended = Walks.extendBiasedWalks(
        Walks.biasedWalks(bridged, 3, 1L, 4L, 2L),
        Walks.rankedAdjacency(bridged), fromLength = 3, extraSteps = 2,
        1L, 4L, 2L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(extended == full)
  }

  test("walkBiasAudit: two variant rows, ppm consistent with counts") {
    val rows = Walks.walkBiasAudit(bridged, 3, 1L, 4L, 2L)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1) == Seq("biased", "uniform"))
    rows.foreach { case (_, nSteps, nRet, ppm) =>
      assert(nSteps == 6L * 2L)  // 6 walks x steps {2,3} vs {0,1}
      assert(ppm == nRet * 1000000L / nSteps)
    }
  }

  test("cooccurrence equals the brute window pairing of the walks") {
    val w = Walks.walks(bridged, 3).as[(Long, Long, Long)]
      .collect().toSeq
    val brute = w.groupBy(_._1).values.flatMap { rows =>
      val path = rows.sortBy(_._2)
      for {
        i <- path.indices; j <- path.indices
        if j > i && path(j)._2 - path(i)._2 <= 2 &&
          path(i)._3 != path(j)._3
      } yield (math.min(path(i)._3, path(j)._3),
        math.max(path(i)._3, path(j)._3))
    }.groupBy(identity).map { case (p, xs) => (p._1, p._2, xs.size.toLong) }
      .toSeq.sortBy(r => (-r._3, r._1, r._2))
    val got = Walks.cooccurrence(bridged, 3, 2, 200)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == brute)
  }
}
