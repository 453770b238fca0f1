package graft

import org.apache.spark.sql.functions._
import graft.ext.Graph

/** Triangle counting: hand-checked graphs + the orientation's
  * count-each-once invariant vs a naive 3-way join. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("triangle counts on a hand-built graph") {
    // K4 on {1,2,3,4} (every node in C(3,2)=3 triangles) plus a
    // pendant 5 and a disconnected edge 6-7 (no triangles).
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L)).toDF("u", "v")
    val got = Graph.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("hub node: star graph has zero triangles") {
    val star = (2L to 20L).map(i => (1L, i)).toDF("u", "v")
    assert(Graph.triangleCounts(star).count() == 0)
  }

  test("clusteringCoeff: K4 nodes cc=1, pendant and star cc=0") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("u", "v")
    val got = graft.ext.Graph.clusteringCoeff(edges)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 1,2,3: degree 3, all 3 neighbor pairs connected -> cc = 1
    assert(got(1L) == ((3L, 3L, 1000000L)))
    assert(got(2L) == ((3L, 3L, 1000000L)))
    assert(got(3L) == ((3L, 3L, 1000000L)))
    // 4: degree 4, 3 triangles of C(4,2)=6 wedges -> 500000 ppm
    assert(got(4L) == ((4L, 3L, 500000L)))
    // 5: degree 1 -> cc 0 by convention
    assert(got(5L) == ((1L, 0L, 0L)))
  }

  test("basketLift: hand-checked lift on a 4-basket fixture") {
    // baskets: {1,2} {1,2} {1,3} {2,3} -> N=4
    // pair (1,2): n_ab=2, n_1=3, n_2=3 -> lift = 2*4/9 = 0.888..
    // pair (1,3): n_ab=1 < minSupport 2 -> cut
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L), (13L, 2L), (13L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val got = graft.ext.Graph.basketLift(li, 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L, 3L, 3L, 888888L)))
  }

  test("matches the naive 3-way join on the sf0.001 co-order graph") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val edges = Graph.coEdges(li, col("l_orderkey"), col("l_partkey"))
    edges.cache()
    val got = Graph.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap

    val e1 = edges.select(col("u").as("a"), col("v").as("b"))
    val e2 = edges.select(col("u").as("b2"), col("v").as("c"))
    val e3 = edges.select(col("u").as("a3"), col("v").as("c3"))
    val tris = e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
    val naive = tris.select(explode(array(col("a"), col("b"), col("c")))
        .as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n_tri"))
      .as[(Long, Long)].collect().toMap
    edges.unpersist()
    assert(got == naive)
    assert(got.nonEmpty)
  }

  test("coEdges guard: a planted oversize basket is skipped and " +
    "never emits its quadratic pairs") {
    // 20 two-item baskets + one pathological 500-item basket
    val small = (1 to 20).flatMap(o => Seq((o.toLong, 2L * o), (o.toLong, 2L * o + 1)))
    val big = (1 to 500).map(i => (999L, 100000L + i))
    val df = (small ++ big).toDF("g", "i")
    val edges = Graph.coEdges(df, col("g"), col("i"), maxGroupSize = 100)
    assert(edges.count() == 20, "only the small baskets' edges survive")
    assert(edges.filter(col("u") >= 100000L).count() == 0)
    // at the default bound the same basket is under the cap -> included
    assert(Graph.coEdges(df, col("g"), col("i")).count() ==
      20 + 500L * 499 / 2)
  }

  test("basketLift guard: oversize basket skips pair emission but still " +
    "counts in order total and marginals") {
    // orders 10,11 = {1,2}; order 12 = parts 1..200 (oversize at cap 50)
    val li = (Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L)) ++
      (1 to 200).map(p => (12L, p.toLong)))
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.basketLift(li, 2L, maxBasket = 50)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // pair (1,2): n_ab=2 (order 12's copy suppressed), n_1=n_2=3
    // (marginals count order 12), N=3 -> lift = 2*3/9 = 666666 ppm
    assert(got == Seq((1L, 2L, 2L, 3L, 3L, 666666L)))
  }

  test("degreeHistogram: hand-checked deciles, wedge mass and hub tail " +
    "on a star + pendant edge") {
    // star center 1 with leaves 2..10 plus a disconnected edge
    // 11-12: 12 nodes, degrees {1:9, 2..10:1, 11:1, 12:1}
    // → hist {d=1: 11 nodes, d=9: 1 node}
    val edges = ((2L to 10L).map(i => (1L, i)) ++ Seq((11L, 12L)))
      .toDF("u", "v")
    val r = Graph.degreeHistogram(edges).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 12L)
    assert(r.getAs[Long]("n_edges") == 10L)
    // cum: d=1 → 11 of 12; ranks ceil(p·12): p10→2, p50→6, p90→11
    // all land in the d=1 mass; p99→ceil(11.88)=12 and p999→12 hit
    // the hub row
    assert(r.getAs[Long]("d_p10") == 1L)
    assert(r.getAs[Long]("d_p50") == 1L)
    assert(r.getAs[Long]("d_p90") == 1L)
    assert(r.getAs[Long]("d_p99") == 9L)
    assert(r.getAs[Long]("d_p999") == 9L)
    assert(r.getAs[Long]("d_max") == 9L)
    // Σdeg² = 81 + 11·1 = 92; Σdeg = 20 → 92·10⁶ div 20 = 4.6e6 —
    // the hub multiplier: 4.6 wedges/edge where mean degree is 1.67
    assert(r.getAs[Long]("wedge_mass") == 92L)
    assert(r.getAs[Long]("wedge_per_edge_ppm") == 4600000L)
  }

  test("linkPredictRa: selective common neighbors outrank a hub — " +
    "the ranking CN counting inverts") {
    // pair (1,2): THREE common neighbors, all hubs of degree 8
    //   -> cn=3, ra = 3·(1e6 div 8) = 375000
    // pair (3,4): TWO common neighbors of degree 2 (selective)
    //   -> cn=2, ra = 2·(1e6 div 2) = 1000000
    // CN ranks (1,2) first; RA must rank (3,4) first.
    val hubs = Seq(10L, 11L, 12L)
    val hubEdges = hubs.flatMap(h =>
      Seq((1L, h), (2L, h)) ++ (1L to 6L).map(i => (h, 100L * h + i)))
    val selective = Seq((3L, 20L), (4L, 20L), (3L, 21L), (4L, 21L))
    val edges = (hubEdges ++ selective).toDF("u", "v")
    val got = Graph.linkPredictRa(edges, minCn = 2, k = 10)
      .select("u", "v", "cn", "ra_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.head == ((3L, 4L, 2L, 1000000L)),
      s"RA must put the selective pair first, got $got")
    // the hub-apex pair (1,2) ranks LAST — below the mirror pair
    // (20,21) (apexes 3,4 of degree 2) and the hub-endpoint pairs
    // (10,11)/(10,12)/(11,12) (apexes 1,2 of degree 3)
    assert(got.last == ((1L, 2L, 3L, 375000L)) && got.size == 6,
      s"got $got")
    // while the jaccard-ranked exact CN ranker puts (1,2) first —
    // the inversion RA exists for
    val cn = Graph.linkPredict(edges, minCn = 2, k = 2)
      .select("u", "v").as[(Long, Long)].collect().toSeq
    assert(cn.head == ((1L, 2L)), s"expected (1,2) first, got $cn")
  }

  test("linkPredictApprox maxDegree: hub-endpoint pairs drop out of " +
    "ranking, hubs still count as common neighbors, arrays stay bounded") {
    // two hubs 100,101 sharing leaves 1..15 (deg 15 each, cn 15);
    // two normal nodes 200,201 sharing {50,51,100} (deg 3, cn 3 —
    // one common neighbor IS hub 100)
    val edges = ((1L to 15L).flatMap(i => Seq((100L, i), (101L, i))) ++
      Seq((200L, 50L), (200L, 51L), (200L, 100L),
          (201L, 50L), (201L, 51L), (201L, 100L)))
      .toDF("u", "v")
    // uncapped: both pairs ranked, hub pair's cn = 15 (+200,201 now
    // neighbors of 100, so deg(100)=17)
    val open = Graph.linkPredictApprox(edges, k = 200, minCn = 2L)
      .select("u", "v", "cn").as[(Long, Long, Long)].collect().toSet
    assert(open.contains((100L, 101L, 15L)))
    assert(open.contains((200L, 201L, 3L)))
    // capped at 10: hub endpoints (deg 17/15 > 10) are never ranked;
    // the normal pair survives and its cn STILL counts hub 100 as a
    // common neighbor — only endpoints are capped, membership isn't
    val capped = Graph.linkPredictApprox(edges, k = 200, minCn = 2L,
      maxDegree = 10).select("u", "v", "cn")
      .as[(Long, Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 == 100L || p._1 == 101L ||
      p._2 == 100L || p._2 == 101L))
    assert(capped.contains((200L, 201L, 3L)))
  }

  test("linkApproxWriteIndex: batch-built persisted index ranks " +
    "identically to linkPredictApprox; marker gates completeness") {
    val parent = java.nio.file.Files
      .createTempDirectory("link-ix-spec").toString
    val dir = parent + "/ix"
    try {
      val edges = Graph.coEdges(spark.read.parquet(s"$sf/lineitem.parquet"),
        col("l_orderkey"), col("l_partkey")).localCheckpoint()
      assert(!Graph.linkApproxIndexExists(spark, dir))
      Graph.linkApproxWriteIndex(edges, dir)
      assert(Graph.linkApproxIndexExists(spark, dir))
      val got = Graph.linkPredictApproxFromIndex(spark, dir, k = 50)
        .collect().toSeq
      val want = Graph.linkPredictApprox(edges, k = 50).collect().toSeq
      assert(want.nonEmpty && got == want,
        "persisted ranking drifted from the batch ranker")
    } finally {
      val p = new org.apache.hadoop.fs.Path(parent)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("linkPredict: 4-cycle + chord — only the open pair is ranked") {
    // cycle 1-2-3-4-1 plus chord 1-3: (1,3) shares {2,4} but IS an
    // edge -> excluded; (2,4) shares {1,3}, deg 2 = deg 4 = 2 ->
    // jaccard = 2/(2+2-2) = 1e6 ppm, the only row at minCn=2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("u", "v")
    val got = Graph.linkPredict(edges, minCn = 2, k = 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 4L, 2L, 2L, 2L, 1000000L)))
  }

  test("constructing triangleCounts, linkPredict and linkPredictApprox " +
      "stays within its job ceiling") {
    // K4 on {1,2,3,4} plus the pendant path 4-5-6. Each ceiling is the
    // kernel's pins' jobs: the id range that picks the packed pair key
    // of triangleCounts and linkPredict is observed under the degree
    // pin, so a driver-side scan added to a constructor raises the count
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val jobs = Map(
      "triangleCounts" -> jobsDuring(Graph.triangleCounts(edges))._2,
      "linkPredict" -> jobsDuring(Graph.linkPredict(edges, 1, 10))._2,
      "linkPredictApprox" ->
        jobsDuring(Graph.linkPredictApprox(edges, 10))._2)
    val ceilings =
      Map("triangleCounts" -> 6, "linkPredict" -> 6, "linkPredictApprox" -> 11)
    ceilings.foreach { case (kernel, max) =>
      assert(jobs(kernel) <= max,
        s"constructing $kernel started ${jobs(kernel)} jobs, over $max")
    }
  }

  test("linkPredict over an empty edge set ranks nothing: the id-range " +
      "observation of an empty degree pin still returns") {
    val none = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Graph.linkPredict(none, 1, 10).count() == 0L)
  }

  test("linkPredict: apex-degree guard suppresses hub wedges") {
    // star hub 1 with 9 leaves: every leaf pair shares only apex 1;
    // with maxDegree=3 the hub is skipped as wedge builder -> empty
    val star = (2L to 10L).map(i => (1L, i)).toDF("u", "v")
    assert(Graph.linkPredict(star, minCn = 1, k = 100,
      maxDegree = 3).count() == 0)
    // and with the guard off, C(9,2)=36 leaf pairs rank
    assert(Graph.linkPredict(star, minCn = 1, k = 100).count() == 36)
  }

  test("linkPredict matches a brute neighbor-set scan at sf0.001") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val edges = Graph.coEdges(li, col("l_orderkey"), col("l_partkey"))
    edges.cache()
    val es = edges.as[(Long, Long)].collect()
    val nbrs = es.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val edgeSet = es.map { case (u, v) => (u, v) }.toSet
    val brute = (for {
      (u, nu) <- nbrs.toSeq; (v, nv) <- nbrs.toSeq
      if u < v && !edgeSet.contains((u, v))
      cn = (nu & nv).size if cn >= 2
    } yield (u, v, cn.toLong, nu.size.toLong, nv.size.toLong,
      cn.toLong * 1000000L / (nu.size + nv.size - cn)))
      .sortBy { case (u, v, _, _, _, j) => (-j, u, v) }.take(100)
    val got = Graph.linkPredict(edges, minCn = 2, k = 100)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == brute)
    edges.unpersist()
  }

  test("kcoreRounds: the clique core survives peeling, the tail " +
      "dissolves one node per round") {
    // K4 on {1,2,3,4} + path 4-5-6-7. k=2 peel: the path unravels
    // from the endpoint one node per round, K4 is the fixpoint
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("u", "v")
    val got = Graph.kcoreRounds(edges, k = 2, rounds = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 7L, 9L),
      (1L, 6L, 8L),   // node 7 (deg 1) peeled
      (2L, 5L, 7L),   // node 6 unravels
      (3L, 4L, 6L),   // node 5 unravels -> K4
      (4L, 4L, 6L)))  // fixpoint
  }

  test("degreeAssortativity: clique is perfectly assortative, " +
      "star is strongly disassortative") {
    // K4: every endpoint degree 3, all pairs identical -> rho = 1e6
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("u", "v")
    val rhoK4 = Graph.degreeAssortativity(k4)
      .select("rho_ppm").as[Long].head()
    assert(rhoK4 == 1000000L)
    // star K1,10: every edge joins the deg-10 hub to a deg-1 leaf
    val star = (2L to 11L).map(i => (1L, i)).toDF("u", "v")
    val rhoStar = Graph.degreeAssortativity(star)
      .select("rho_ppm").as[Long].head()
    assert(rhoStar < -500000L)
  }

  test("degreeAssortativity matches a driver-side rank reference " +
      "on the sf0.001 co-order graph") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val edges = Graph.coEdges(li, col("l_orderkey"), col("l_partkey"))
    val es = edges.as[(Long, Long)].collect()
    val deg = es.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    // both orientations; rows (xa, xb, k0, k1)
    val rows = es.flatMap { case (u, v) =>
      Seq((deg(u), deg(v), u, v), (deg(v), deg(u), v, u)) }
    val ra = rows.sortBy { case (xa, xb, k0, k1) => (xa, xb, k0, k1) }
      .zipWithIndex.map { case (r, i) => r -> (i + 1L) }
    val rb = rows.sortBy { case (xa, xb, k0, k1) => (xb, xa, k0, k1) }
      .zipWithIndex.map { case (r, i) => r -> (i + 1L) }
    // canonical pairing: within identical rows, i-th a-rank with
    // i-th b-rank
    val raG = ra.groupBy(_._1).map { case (k, xs) =>
      k -> xs.map(_._2).sorted }
    val rbG = rb.groupBy(_._1).map { case (k, xs) =>
      k -> xs.map(_._2).sorted }
    val d2 = raG.toSeq.flatMap { case (k, ras) =>
      ras.zip(rbG(k)).map { case (x, y) =>
        BigInt(x - y) * BigInt(x - y) } }.sum
    val n = BigInt(rows.length)
    val expRho = (BigInt(1000000) -
      (BigInt(6000000) * d2) / (n * (n * n - 1))).toLong
    val got = Graph.degreeAssortativity(edges)
      .as[(Long, Long, Long)].head()
    assert(got._1 == rows.length.toLong)
    assert(got._2 == d2.toLong)
    assert(got._3 == expRho)
  }

  test("ppr: teleport mass stays in the seed's component and " +
      "symmetric neighbors score identically") {
    // triangle 0-1-2 (seed 0) plus a disconnected edge 5-6
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (5L, 6L))
      .toDF("u", "v")
    val got = graft.ext.Ppr.ppr(edges, seedMax = 1L, iters = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 5L, 6L))
    assert(got(0L)._1 == 1L && got(1L)._1 == 0L,
      "is_seed must mark exactly the seed set")
    // the surfer can only restart at 0: the far component never
    // receives mass
    assert(got(5L)._2 == 0L && got(6L)._2 == 0L)
    // 1 and 2 are interchangeable by symmetry -> identical scores
    assert(got(1L)._2 == got(2L)._2 && got(1L)._2 > 0L)
    assert(got(0L)._2 > got(1L)._2,
      "the seed itself holds the most personalized mass")
  }

  test("betweenness: path graph matches the hand-computed Brandes " +
      "sums (ordered-pair counting, all nodes as seeds)") {
    // path 0-1-2-3-4: through-counts 0/6/8/6/0 (ordered pairs)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("u", "v")
    val got = graft.ext.Betweenness.betweenness(edges, seedMax = 5L,
        hops = 4, k = 10)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(got == Map(0L -> 0L, 1L -> 6000000L, 2L -> 8000000L,
      3L -> 6000000L, 4L -> 0L), s"path betweenness drifted: $got")
  }

  test("betweenness: tied shortest paths split sigma exactly — the " +
      "diamond scores every node 1e6") {
    // 0-1-3 and 0-2-3: pair (0,3) splits 1/2 to each of 1 and 2;
    // pairs (1,2) split 1/2 to each of 0 and 3 -> all four = 1e6
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L))
      .toDF("u", "v")
    val got = graft.ext.Betweenness.betweenness(edges, seedMax = 4L,
        hops = 3, k = 10)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(got == Map(0L -> 1000000L, 1L -> 1000000L,
      2L -> 1000000L, 3L -> 1000000L),
      s"diamond sigma-split drifted: $got")
  }

  test("betweenness: the horizon truncates honestly — hops=1 sees " +
      "no interior node") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("u", "v")
    val got = graft.ext.Betweenness.betweenness(edges, seedMax = 5L,
        hops = 1, k = 10)
      .as[(Long, Long, Long)].collect()
    assert(got.forall(_._2 == 0L),
      s"one hop admits no intermediate: ${got.toSeq}")
  }

  test("pprRecommend: a seed's direct neighbors and itself are " +
      "excluded; a two-hop candidate is what gets recommended") {
    // path 0-2-3 plus 0-1: seed 0 already has {1,2}; the only
    // recommendable node with mass is 3 (two hops through 2)
    val edges = Seq((0L, 1L), (0L, 2L), (2L, 3L)).toDF("u", "v")
    val got = graft.ext.Ppr.pprRecommend(edges, seedMax = 1L,
        iters = 3, k = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._2).toSet == Set(3L),
      s"only the two-hop node is recommendable: $got")
    assert(got.head._1 == 0L && got.head._4 == 1L && got.head._3 > 0L)
  }

  test("pprRecommend: per-seed personalization — each seed ranks its " +
      "own two-hop neighborhood first, k cuts the list") {
    // two stars sharing nothing: seed 0 -> hub 20 -> {30, 31};
    // seed 1 -> hub 21 -> {40}
    val edges = Seq((0L, 20L), (20L, 30L), (20L, 31L),
      (1L, 21L), (21L, 40L)).toDF("u", "v")
    val got = graft.ext.Ppr.pprRecommend(edges, seedMax = 2L,
        iters = 3, k = 1)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    // k=1 keeps exactly one row per seed, and it is a node from the
    // seed's OWN component (tie-break: smallest node id at the top)
    assert(got == Map(0L -> 30L, 1L -> 40L),
      s"per-seed personalization drifted: $got")
  }

  test("ppr: two seeds split the teleport vector; a global-seed run " +
      "ranks a hub above leaves") {
    // star: hub 10, leaves 0,1 (seeds) and 11..14
    val star = (Seq(0L, 1L) ++ (11L to 14L)).map(i => (i, 10L))
      .toDF("u", "v")
    val got = graft.ext.Ppr.ppr(star, seedMax = 2L, iters = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    // non-seed leaves get mass only through the hub, seeds hold
    // their restart mass, the hub relays everything: hub > seed >
    // non-seed leaf > 0 is the only order consistent with PPR
    assert(got(10L) > got(0L), s"hub must outrank a seed leaf: $got")
    assert(got(0L) == got(1L), "equal seeds score equally")
    assert(got(11L) > 0L && got(0L) > got(11L),
      s"seed leaf must outrank non-seed leaf: $got")
    assert((11L to 14L).map(got).toSet.size == 1,
      "symmetric non-seed leaves score identically")
  }
}
