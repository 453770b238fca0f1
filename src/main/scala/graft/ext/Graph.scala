package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.Tables

/** Distributed triangle counting over the item co-occurrence graph —
  * the graph-density audit behind "how clustered is my catalog /
  * near-dup graph?" (clustering coefficient, community density,
  * link-spam detection in crawled corpora).
  *
  * The naive 3-way edge self-join enumerates every triangle at all
  * three corners and — worse — builds every open wedge Σ deg(v)² at
  * hub nodes; one celebrity node with degree 10⁶ alone contributes
  * 10¹² wedges. The fix is the classic degree-orientation (node-
  * iterator++ / Suri & Vassilvitskii "Counting Triangles and the
  * Curse of the Last Reducer", WWW 2011 — public): orient every
  * undirected edge from the lower-(degree, id) endpoint to the
  * higher, making the graph a DAG where every vertex has out-degree
  * ≤ O(√m). Each triangle then has EXACTLY ONE vertex with out-edges
  * to the other two, so wedges are built only at that apex:
  * Σ outdeg(v)² ≤ m·√m total — the 100 TB bound — and each triangle
  * is found once, not three times or six.
  *
  * Spark shape: edges are a groupBy-distinct; degrees one hash agg;
  * the wedge join and the closing-edge join are two hash-partitioned
  * equi-joins (wedge join keyed on the apex's out-neighbor, closing
  * join on the (lo, hi) edge key). No driver iteration, no collect.
  */
object Graph {

  /** Default per-group item cap for the pair self-joins: a single
    * group with n items emits n(n−1)/2 pair rows BEFORE any distinct
    * can dedup them, so one pathological basket (a crawler dumping
    * 10⁵ parts into one order) would emit ~10¹⁰ rows from one task.
    * 10⁴ caps any group's pair emission at ~5·10⁷ — large but
    * bounded — while sitting orders of magnitude above real basket
    * sizes (TPC-H orders hold ≤ 7 lines). */
  val DefaultMaxGroupSize: Int = 10000

  /** Distinct undirected co-occurrence edges (u < v) from an
    * item-in-group table: items sharing a group key get an edge.
    *
    * Groups holding more than `maxGroupSize` distinct items are
    * SKIPPED (their pairs are never emitted) — the quadratic-blowup
    * guard above. The skip is part of the operator's declared
    * semantics, mirrored in every oracle twin, so parity holds by
    * construction even on data that trips the guard.
    *
    * Guard shape: the oversize-group list is a map-side-combining
    * count + filter — at most n_items/maxGroupSize rows, and EMPTY
    * on healthy data — applied as a left-anti join (AQE broadcasts
    * the small side). The first implementation counted per-group via
    * a `count over (partition by g)` window instead; that window's
    * exchange+sort subtree sat under BOTH sides of the pair
    * self-join and measured 3-5× slower on the sf0.1 triangle build
    * (30 s vs 6-7 s) — the guard must be a cheap side-table, not a
    * decoration on the main table. The guarded item table is
    * [[Pin.pin]]ned: both self-join sides read the one materialized
    * snapshot instead of each re-evaluating distinct+guard. */
  def coEdges(df: DataFrame, group: Column, item: Column,
              maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    val g = guardedItems(df, group, item, maxGroupSize)
    val a = g.select(col("g"), col("i").as("u"))
    val b = g.select(col("g"), col("i").as("v"))
    a.join(b, Seq("g")).filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
  }

  /** The shared guarded-group front of every co-occurrence builder:
    * distinct (group, item) pairs with oversize groups anti-joined
    * away and the survivor relation pinned — ONE definition of the
    * guard semantics for [[coEdges]] and [[Sssp.coEdgesWeighted]]
    * (two copies would silently desynchronize the weighted and
    * unweighted graphs on a future guard change). */
  private[ext] def guardedItems(df: DataFrame, group: Column,
                                item: Column,
                                maxGroupSize: Int): DataFrame = {
    val base = df.select(group.as("g"), item.cast("long").as("i"))
      .distinct()
    val oversize = base.groupBy(col("g"))
      .agg(count(lit(1)).as("__gn"))
      .filter(col("__gn") > maxGroupSize)
      .select(col("g"))
    Pin.pin(base.join(oversize, Seq("g"), "left_anti"))
  }

  /** Per-node triangle participation counts over undirected edges
    * (u < v). Output: (node_id, n_tri) for nodes in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // the edge relation feeds THREE consumers (degrees, orientation,
    // closing probe). Catalyst's ReusedExchange dedups identical
    // subtrees when it can, but the pin guarantees one materialization
    // of the m edge rows regardless of how AQE re-plans each consumer
    // — and makes the upstream distinct's cost appear once in any
    // profile instead of ambiguously shared. Pin.ensure: a caller
    // that already pinned ([[clusteringCoeff]]) shares its leaf
    // instead of paying a second row copy (round 13).
    val e = Pin.ensure(edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")))

    // ONE degree aggregation, pinned: unpinned, the executed r12 plan
    // ran the explode+agg FOUR times (once per deg consumer in the
    // twice-derived orientation subtree — formatted-plan ops
    // 7-9/18-20/32-34/43-45), each a full edge re-scan with its own
    // exchange (guide §2.4)
    val (deg, packable) = pinDegrees(
      e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d")), "tri.deg", "n")

    // total order (d, n): orient low -> high so out-degree <= O(sqrt m)
    val withDeg = e
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    // oriented edges pinned keyed on the apex at wedge width — the
    // same treatment [[linkPredict]]'s capped adjacency gets: both
    // wedge sides read ONE pinned relation hashed
    // and sorted on `src`, so the Σ outdeg² wedge self-join runs with
    // zero exchange and zero sort on either side (the r12 plan
    // derived the whole deg-join orientation subtree TWICE, with an
    // exchange+sort pair on each side of the wedge join)
    val oriented = Pin.pin(withDeg.select(
      when(col("du") < col("dv") ||
           (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("src"),
      when(col("du") < col("dv") ||
           (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("dst")), "tri.oriented", Seq(col("src")),
      widthMult = 4)

    // wedges at the apex: (apex)->(b), (apex)->(c) with b ordered
    // before c in the SAME orientation order is unnecessary — any
    // unordered out-pair closes at most one way; dedup by b < c on id
    // would break the (deg, id) order, so key the closing probe on
    // the canonical undirected (lo, hi) edge instead.
    val o1 = oriented.select(col("src").as("a"), col("dst").as("b"))
    val o2 = oriented.select(col("src").as("a"), col("dst").as("c"))
    // the closing probe keyed on ONE packed long instead of (b, c)
    // (round 13, guide §2.3): the Σ outdeg² wedge rows shrink from
    // three longs to two before their exchange, and the join key
    // compare is a single long equality. Guarded exactly like
    // [[linkPredictTail]]'s packed wedge agg; the fallback keeps the
    // two-column key, same rows either way.
    val tris =
      if (packable) {
        val wedges = o1.join(o2, Seq("a")).filter(col("b") < col("c"))
          .select(col("a"),
            shiftleft(col("b"), 32).bitwiseOR(col("c")).as("bc"))
        val closing = e.select(
          shiftleft(col("u"), 32).bitwiseOR(col("v")).as("bc"))
        wedges.join(closing, Seq("bc"))
          .select(col("a"), shiftright(col("bc"), 32).as("b"),
            col("bc").bitwiseAND(lit(0xFFFFFFFFL)).as("c"))
      } else {
        val wedges = o1.join(o2, Seq("a")).filter(col("b") < col("c"))
        val closing = e.select(col("u").as("b"), col("v").as("c"))
        wedges.join(closing, Seq("b", "c"))
          .select(col("a"), col("b"), col("c"))
      }

    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n_tri"))
  }

  /** Triangle counts over the part co-order graph of `lineitem`. */
  def coOrderTriangles(lineitem: DataFrame): DataFrame =
    triangleCounts(coEdges(lineitem, col("l_orderkey"), col("l_partkey")))

  /** Per-node local clustering coefficient in exact ppm —
    * 2·triangles(v) / (deg(v)·(deg(v)−1)), "how clique-like is this
    * node's neighborhood": the graph-health number read next to the
    * raw triangle counts (link farms and boilerplate families show
    * as high-cc clusters; organic catalogs sit low). Extends
    * [[triangleCounts]] with one degree aggregate and a left join so
    * triangle-free nodes keep cc = 0; degree-1 nodes (undefined
    * denominator) publish 0 by convention. Integer division only. */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    // ONE pin feeds both this query's own degree census and the
    // whole triangle kernel (which detects the existing leaf via
    // Pin.ensure): before round 13 the triangle side pinned its own
    // copy while this deg agg re-ran the UNPINNED upstream edge
    // build (for the co-order graph, the quadratic pair join +
    // distinct) a second time — measured 3.1 → 5.0 s when the r13
    // triangle pins first landed, back under the old wall once the
    // leaf is shared (guide §2.4)
    val e = Pin.pin(edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")))
    val deg = e.select(explode(array(col("u"), col("v"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(e), Seq("node_id"), "left")
      .select(col("node_id"), col("degree").cast("long").as("degree"),
        coalesce(col("n_tri"), lit(0L)).cast("long").as("n_tri"),
        when(col("degree") >= 2,
          expr("(coalesce(n_tri, 0) * 2 * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).cast("long").as("cc_ppm"))
  }

  /** DuckDB twin of [[clusteringCoeff]] over the co-order graph —
    * including the oversize-group skip, so parity is by construction
    * even on data that trips the guard. */
  val coOrderClusteringOracleSql: String =
    s"""
    |WITH g AS (
    |  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
    |ok AS (
    |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
    |e AS (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |deg AS (
    |  SELECT node_id, count(*) AS degree
    |  FROM (SELECT u AS node_id FROM e UNION ALL SELECT v FROM e)
    |  GROUP BY 1),
    |t AS (
    |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
    |  FROM e e1 JOIN e e2 ON e1.v = e2.u
    |            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    |tri AS (
    |  SELECT node_id, count(*) AS n_tri
    |  FROM (SELECT a AS node_id FROM t UNION ALL
    |        SELECT b FROM t UNION ALL SELECT c FROM t)
    |  GROUP BY 1)
    |SELECT CAST(d.node_id AS BIGINT) AS node_id,
    |  CAST(degree AS BIGINT) AS degree,
    |  CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
    |  CAST(CASE WHEN degree >= 2
    |    THEN (coalesce(n_tri, 0) * 2 * 1000000) // (degree * (degree - 1))
    |    ELSE 0 END AS BIGINT) AS cc_ppm
    |FROM deg d LEFT JOIN tri ON tri.node_id = d.node_id
    |ORDER BY node_id
    |""".stripMargin.trim

  /** Market-basket association strength: for every pair of parts
    * co-ordered at least `minSupport` times, the support counts and
    * the LIFT — observed co-occurrence over the independence
    * expectation, lift = n_ab·N / (n_a·n_b) — as an exact integer ppm
    * ratio (a float lift is fold-order-dependent; the ppm form is
    * bit-identical across engines). Lift > 1e6 ppm = the pair
    * attracts; < 1e6 = it repels.
    *
    * Shape: one distinct projection of (order, part), one order-keyed
    * self-join for pair counts (bounded by Σ lines(order)² — basket
    * sizes, not catalog size), one part-keyed agg for the marginals,
    * and the marginals join back by part key. The total-orders scalar
    * rides a broadcast 1-row cross join. The `minSupport` cut is
    * applied BEFORE the marginal joins, so the heavy pair tail never
    * shuffles twice. Baskets above `maxBasket` distinct parts are
    * skipped before the pair join (the [[coEdges]] quadratic guard —
    * skipped baskets still count in the order total and marginals,
    * since they ARE real orders; only their pair emission is
    * suppressed), mirrored in the oracle twin. */
  def basketLift(lineitem: DataFrame, minSupport: Long,
                 maxBasket: Int = DefaultMaxGroupSize): DataFrame = {
    val all = lineitem.select(col("l_orderkey").as("o"),
      col("l_partkey").cast("long").as("i")).distinct()
    // same side-table guard shape as [[coEdges]] (the window form
    // measured 3-5× slower there); oversize list is near-empty on
    // healthy data, AQE broadcasts the anti side
    val oversize = all.groupBy(col("o"))
      .agg(count(lit(1)).as("__gn"))
      .filter(col("__gn") > maxBasket)
      .select(col("o"))
    val g = Pin.pin(all.join(oversize, Seq("o"), "left_anti"))
    val nOrders = all.select(col("o")).distinct()
      .agg(count(lit(1)).as("__n"))
    val marg = all.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
    val a = g.select(col("o"), col("i").as("u"))
    val b = g.select(col("o"), col("i").as("v"))
    val pairs = a.join(b, Seq("o")).filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(marg.select(col("i").as("u"), col("n_i").as("n_a")), "u")
      .join(marg.select(col("i").as("v"), col("n_i").as("n_b")), "v")
      .crossJoin(broadcast(nOrders))
      .select(col("u"), col("v"), col("n_ab").cast("long").as("n_ab"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        // ppm numerator folded in decimal(38,0) (DuckDB: HUGEINT): at
        // the 100 TB posture total orders ~1e11 and n_ab >= minSupport
        // put n_ab*N*1e6 past Long.MAX, where bare Long arithmetic
        // wraps silently under ANSI-off Spark while DuckDB errors —
        // same cleared-overflow discipline as zscoreOutliers/gini
        expr("(cast(n_ab as decimal(38,0)) * __n * 1000000) " +
          "div (cast(n_a as decimal(38,0)) * n_b)").as("lift_ppm"))
  }

  /** DuckDB twin of [[basketLift]] over `lineitem` — marginals and
    * the order total count EVERY basket; only the pair emission skips
    * oversize baskets, as in the Spark shape. */
  def basketLiftOracleSql(minSupport: Long): String =
    s"""
    |WITH g AS (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem),
    |okb AS (
    |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
    |n AS (SELECT count(DISTINCT o) AS total FROM g),
    |marg AS (SELECT i, count(*) AS n_i FROM g GROUP BY i),
    |pairs AS (
    |  SELECT a.i AS u, b.i AS v, count(*) AS n_ab
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM okb)
    |  GROUP BY 1, 2 HAVING count(*) >= $minSupport)
    |SELECT u, v, CAST(n_ab AS BIGINT) AS n_ab,
    |  CAST(ma.n_i AS BIGINT) AS n_a, CAST(mb.n_i AS BIGINT) AS n_b,
    |  CAST(CAST(n_ab AS HUGEINT) * total * 1000000
    |       // (CAST(ma.n_i AS HUGEINT) * mb.n_i) AS BIGINT)
    |    AS lift_ppm
    |FROM pairs JOIN marg ma ON ma.i = u
    |           JOIN marg mb ON mb.i = v
    |           CROSS JOIN n
    |ORDER BY u, v
    |""".stripMargin.trim

  /** DuckDB twin: plain 3-way join on the distinct co-order edges —
    * correct at oracle scale, wedge-unbounded at 100 TB (the plan
    * this operator's orientation exists to avoid). Mirrors the
    * oversize-group skip. */
  val coOrderTrianglesOracleSql: String =
    s"""
    |WITH g AS (
    |  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
    |ok AS (
    |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
    |e AS (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |t AS (
    |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
    |  FROM e e1 JOIN e e2 ON e1.v = e2.u
    |            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    |SELECT CAST(node_id AS BIGINT) AS node_id,
    |       CAST(count(*) AS BIGINT) AS n_tri
    |FROM (SELECT a AS node_id FROM t UNION ALL
    |      SELECT b FROM t UNION ALL
    |      SELECT c FROM t)
    |GROUP BY 1 ORDER BY node_id
    |""".stripMargin.trim

  /** Common-neighbor link prediction over undirected edges (u < v):
    * for every NON-adjacent pair sharing ≥ `minCn` neighbors, the
    * common-neighbor count and the neighborhood Jaccard
    * `cn · 1e6 div (deg_u + deg_v − cn)` in exact ppm, top `k` by
    * (jaccard, cn) — the classic missing-link ranker (Liben-Nowell &
    * Kleinberg CIKM 2003): "these two parts are never co-ordered but
    * share most of their co-order neighborhoods", the
    * recommendation / catalog-gap signal next to [[basketLift]]'s
    * observed-pair view.
    *
    * Shape: wedges are built at each shared neighbor (apex), so the
    * cost is Σ deg(apex)² — the inherent price of exact CN counting
    * (every common neighbor must witness its pair once; the triangle
    * orientation trick does not apply because the PAIR, not the
    * wedge, is the output key). The bound is enforced: apexes above
    * `maxDegree` are skipped as wedge builders (hub products
    * co-ordered with everything carry no discrimination anyway —
    * standard practice; the skip is part of the declared semantics
    * and mirrored in the oracle), so wedge emission ≤ n·maxDegree².
    * Degrees in the Jaccard denominator stay FULL degrees — only
    * wedge building is capped. One distinct-edge projection, one
    * degree agg, one apex-keyed self-join, one (u,v) count agg, a
    * left-anti probe against the edge set, and a TakeOrdered top-k:
    * every join equi-keyed, nothing quadratic in the catalog. */
  def linkPredict(edges: DataFrame, minCn: Long, k: Int,
                  maxDegree: Int = DefaultMaxGroupSize): DataFrame = {
    val e = Pin.pin(edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")))
    val (deg, adjOk, packable) = cappedAdjacency(e, maxDegree, "linkpred")
    linkPredictTail(e, deg, adjOk, packable, minCn, k)
  }

  /** The shared front of the exact AND approx link-prediction
    * rankers: pinned one-pass degree aggregation (with its
    * [[pinDegrees]] packed-id guard) + the degree-capped adjacency
    * pinned keyed on the apex at 4× session width.
    *
    *  - ONE degree aggregation, pinned: unpinned it re-ran as five
    *    separate union+agg subtrees in the executed plan (the two
    *    semi-join caps, deg_u, deg_v — each a full adjacency re-scan
    *    with two exchanges; the r12 formatted plan's ops
    *    9-11/25-27/43-45/87-89/100-102).
    *  - Capped adjacency pinned keyed on `a`: every consumer keyed on the
    *    node — the Σdeg² wedge self-join (both sides), the signature
    *    agg (grouped on (a, i), a prefix), the verify tail's
    *    neighbor-array agg (grouped on a) — runs with zero exchange
    *    and zero sort on this side. 4× width because the wedge
    *    consumer AMPLIFIES rows (see the keyed [[Pin.pin]]); the extra
    *    width is harmless to the prefix-keyed aggs.
    *
    * Factored out in round 13 so [[linkPredictApproxRecall]] builds
    * this front ONCE for its two rankers — before, exact and approx
    * each pinned their own edge copy, re-derived the adjacency,
    * re-aggregated degrees and pinned two copies of the SAME capped
    * relation (guide §2.4: the cheapest shuffle is the one not run
    * twice). */
  private def cappedAdjacency(e: DataFrame, maxDegree: Int,
                              tag: String): (DataFrame, DataFrame, Boolean) = {
    val adj = e.select(col("u").as("a"), col("v").as("n"))
      .unionByName(e.select(col("v").as("a"), col("u").as("n")))
    val (deg, packable) = pinDegrees(adj.groupBy(col("a"))
      .agg(count(lit(1)).as("degree")), s"$tag.deg", "a")
    val adjOk = Pin.pin(adj.join(
      deg.filter(col("degree") <= maxDegree).select(col("a")), Seq("a"),
      "left_semi"), s"$tag.adj", Seq(col("a")), widthMult = 4)
    (deg, adjOk, packable)
  }

  /** A degree aggregation pinned keyed on its node column `idCol`,
    * and whether every id fits the packed single-long pair form
    * `hi·2³² | lo` (nonnegative, < 2³¹) — the guard for halving
    * wedge-aggregation key bytes (guide §2.3 "narrower types: halve
    * the column, halve its shuffle bytes", here applied to the Σ deg²
    * aggregation state). The id range is an [[Observation]] under the
    * pin, read off the pin's own job: the guard starts no job of its
    * own. */
  private def pinDegrees(deg: DataFrame, tag: String,
                         idCol: String): (DataFrame, Boolean) = {
    val ids = Observation()
    val pinned = Pin.pin(deg.observe(ids, min(col(idCol)).as("lo"),
      max(col(idCol)).as("hi")), tag, Seq(col(idCol)))
    val r = ids.get
    (pinned, r("lo") == null || (r("lo").asInstanceOf[Long] >= 0L &&
      r("hi").asInstanceOf[Long] < (1L << 31)))
  }

  /** The exact common-neighbor ranking tail over a pre-built front —
    * see [[linkPredict]] for the semantics; factored out so
    * [[linkPredictApproxRecall]] can run it against the SAME pinned
    * adjacency its approx side uses. */
  private def linkPredictTail(e: DataFrame, deg: DataFrame,
                              adjOk: DataFrame, packable: Boolean,
                              minCn: Long, k: Int): DataFrame = {
    val w1 = adjOk.select(col("a"), col("n").as("u"))
    val w2 = adjOk.select(col("a"), col("n").as("v"))
    // the wedge count agg keyed on ONE packed long instead of two
    // (round 13, guide §2.3): the Σ deg² partial-agg hash state and
    // its exchange carry an 8-byte key instead of 16, and the
    // group-key compare is a single long equality. Pack/unpack is
    // lossless under the [[pinDegrees]] guard (part keys are ≥ 0
    // and far below 2³¹ at every SF; a catalog that outgrows the
    // guard falls back to the two-long key, same rows either way).
    val cnAgg =
      if (packable)
        w1.join(w2, Seq("a")).filter(col("u") < col("v"))
          .select(shiftleft(col("u"), 32).bitwiseOR(col("v")).as("uv"))
          .groupBy(col("uv")).agg(count(lit(1)).as("cn"))
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(0xFFFFFFFFL)).as("v"), col("cn"))
      else
        w1.join(w2, Seq("a")).filter(col("u") < col("v"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
    val cand = cnAgg
      .filter(col("cn") >= minCn)
      .join(e, Seq("u", "v"), "left_anti")
    cand
      .join(deg.select(col("a").as("u"), col("degree").as("deg_u")), "u")
      .join(deg.select(col("a").as("v"), col("degree").as("deg_v")), "v")
      .select(col("u"), col("v"), col("cn").cast("long").as("cn"),
        col("deg_u").cast("long").as("deg_u"),
        col("deg_v").cast("long").as("deg_v"),
        expr("(cn * 1000000L) div (deg_u + deg_v - cn)")
          .cast("long").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("u").asc, col("v").asc)
      .limit(k)
  }

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang, Eur.
    * Phys. J. B 2009 — public): rank non-adjacent pairs by
    * Σ_{z ∈ CN(u,v)} 1/deg(z) instead of |CN| — a selective common
    * neighbor (deg 2) is stronger evidence than a hub co-ordered
    * with everything, the grading plain CN counting can't express
    * (RA is the best simple-index performer in the original study;
    * Adamic-Adar is the same idea with 1/log deg, which would need a
    * transcendental — RA keeps the whole ranking in exact integers).
    * Each apex contributes `1000000 div deg(z)` micro-units, summed
    * per pair — both engines fold identical integers, so the ranking
    * cannot drift. Same wedge machinery, apex `maxDegree` cap and
    * non-adjacency anti probe as [[linkPredict]]; the weight is one
    * integer column on the wedge rows (a hub apex over the cap is
    * skipped as a wedge builder exactly as there — and for RA the
    * bias is second-order by construction: the skipped apex would
    * have contributed ≤ 1e6/maxDegree per pair). */
  def linkPredictRa(edges: DataFrame, minCn: Long, k: Int,
                    maxDegree: Int = DefaultMaxGroupSize): DataFrame = {
    val e = Pin.pin(edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")))
    val adj = e.select(col("u").as("a"), col("v").as("n"))
      .unionByName(e.select(col("v").as("a"), col("u").as("n")))
    // same pinned-degree + apex-keyed pin discipline as
    // [[linkPredict]] (one degree agg, zero-exchange wedge join)
    val deg = Pin.pin(adj.groupBy(col("a"))
      .agg(count(lit(1)).as("degree")), "linkpred.ra.deg", Seq(col("a")))
    val adjOk = Pin.pin(adj.join(
        deg.filter(col("degree") <= maxDegree), Seq("a"))
      .withColumn("wt", expr("1000000L div degree")),
      "linkpred.ra.adj", Seq(col("a")), widthMult = 4)
    val w1 = adjOk.select(col("a"), col("wt"), col("n").as("u"))
    val w2 = adjOk.select(col("a"), col("n").as("v"))
    w1.join(w2, Seq("a")).filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"), sum(col("wt")).as("ra"))
      .filter(col("cn") >= minCn)
      .join(e, Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("cn").cast("long").as("cn"),
        col("ra").cast("long").as("ra_micro"))
      .orderBy(col("ra_micro").desc, col("u").asc, col("v").asc)
      .limit(k)
  }

  /** DuckDB twin of [[linkPredictRa]] over the co-order graph of a
    * `lineitem` slice (`whereSql` filters the scan, mirroring the
    * declared query's pushed predicate). */
  def linkPredictRaOracleSql(whereSql: String, minCn: Long, k: Int,
                             maxDegree: Int = DefaultMaxGroupSize): String =
    s"""
    |WITH g AS (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem WHERE $whereSql),
    |ok AS (
    |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
    |e AS (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |adj AS (SELECT u AS a, v AS n FROM e UNION ALL SELECT v, u FROM e),
    |deg AS (SELECT a, count(*) AS degree FROM adj GROUP BY a),
    |adjok AS (
    |  SELECT adj.a, adj.n, 1000000 // deg.degree AS wt
    |  FROM adj JOIN deg ON deg.a = adj.a
    |  WHERE deg.degree <= $maxDegree),
    |cand AS (
    |  SELECT w1.n AS u, w2.n AS v, count(*) AS cn, sum(w1.wt) AS ra
    |  FROM adjok w1 JOIN adjok w2 ON w1.a = w2.a AND w1.n < w2.n
    |  GROUP BY 1, 2 HAVING count(*) >= $minCn)
    |SELECT u, v, CAST(cn AS BIGINT) AS cn, CAST(ra AS BIGINT) AS ra_micro
    |FROM cand c
    |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v)
    |ORDER BY ra_micro DESC, u, v LIMIT $k
    |""".stripMargin.trim

  /** MinHash approximate common-neighbor link prediction — the
    * hub-heavy escape hatch for [[linkPredict]]: exact CN counting
    * must build wedges at every shared neighbor (Σ deg(apex)² —
    * inherent, because the PAIR is the output key), while this
    * estimator never enumerates wedges at all. Each node's NEIGHBOR
    * SET gets an nHashes-perm minhash signature (Broder 1997 —
    * public) in ONE hash agg — O(Σ deg · nHashes), linear in edges
    * even at a 10⁶-degree hub. Candidates come from single-row LSH
    * bands over the signatures (nodes sharing any minhash position —
    * OR-amplification, the right dial for the low-Jaccard regime of
    * co-occurrence graphs); per-(position, value) buckets larger
    * than `maxBucket` are SKIPPED (declared semantics, mirrored in
    * the oracle — a hub neighbor that argmins for its whole
    * neighborhood would otherwise re-create the quadratic this
    * estimator exists to avoid; the skip is [[coEdges]]'
    * oversize-group discipline applied to LSH buckets). Each
    * candidate is then scored EXACTLY — cn, full degrees, Jaccard
    * ppm, the same columns as the exact ranker — by intersecting the
    * two adjacency lists (equi-joins keyed on (node, neighbor):
    * Σ_cand deg(u) rows, bounded by the banding, never Σ deg² over
    * the graph). This is the candidates→verify discipline the
    * minhash dedup ladder uses: ONLY candidate generation is
    * approximate, scores never are — ranking by an 8-sample Jaccard
    * estimate across millions of candidates lets estimation noise
    * flood the top (measured on the fixture: 0 of the exact top-100
    * survived; with verification the ranking among surfaced pairs is
    * exact and recall reduces to the banding's pair recall,
    * 1−(1−j)^nHashes — the dial [[linkPredictApproxRecall]]
    * measures). Hash family: polyHash of the id rendered as a string
    * (the MIXING step — a raw (a·x+b) mod P of a small int id never
    * wraps and is order-preserving, which collapses every position
    * onto the same min neighbor) then per-position (a_i·h + b_i)
    * mod P2 with a second fixed wrap stage, shared with the
    * text-minhash family ([[graft.functions.Hashing]]).
    *
    * `maxDegree` (declared semantics, mirrored in the oracle — the
    * same dial [[linkPredict]] has): nodes whose degree exceeds it
    * are EXCLUDED from ranking — no signature, no candidacy, no
    * verification array. Without the cap the verify stage's per-node
    * `sort_array(collect_list)` payload is O(deg): fine at the
    * measured 58,943-degree hub (~0.5 MB/row, SCALE.md §39) but a
    * 10⁸-degree pathological hub would build one ~800 MB aggregation
    * row and die in the agg exactly the way the uncapped wedge form
    * did. With it, every verify array is ≤ maxDegree elements by
    * construction. The bias is the cap's declared trade: a hub-
    * endpoint pair is never ranked (a hub's neighborhood Jaccard is
    * ~0 against non-hubs anyway); hubs still COUNT as common
    * neighbors inside surviving pairs' arrays — cn stays exact. */
  def linkPredictApprox(edges: DataFrame, k: Int, nHashes: Int = 8,
                        minCn: Long = 2L,
                        maxBucket: Int = DefaultMaxGroupSize,
                        maxDegree: Int = DefaultMaxGroupSize): DataFrame = {
    require(nHashes >= 1 && k >= 1)
    require(nHashes <= graft.functions.Hashing.Perms.size,
      s"nHashes > ${graft.functions.Hashing.Perms.size} needs more Perms")
    val e = Pin.pin(edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")))
    // degree cap FIRST: one count agg + a semi join, so hub nodes
    // never reach the signature agg, the band join, or the
    // collect_list verify arrays — the O(deg) payload bound. The
    // shared [[cappedAdjacency]] front pins the capped relation
    // keyed on the node: the signature agg (grouped on (a, i)
    // — a prefix match) and the verify tail's neighbor-array agg
    // (grouped on a) both run exchange-free over it, and the minhash
    // explode inherits the full pinned width instead of the 2-task
    // stage AQE carved from its byte-light input (the §43 trap,
    // measured here as a 2.0 s 2-task stage).
    val (_, adj, _) = cappedAdjacency(e, maxDegree, "linkpred.approx")
    approxRankTail(e, adj, Pin.pin(neighborMinhash(adj, nHashes)),
      k, minCn, maxBucket)
  }

  /** Per-(node, position) minhash MINIMA over the given adjacency
    * rows — one agg, the signature kernel shared by the in-query
    * ranker and the persisted index build ([[linkApproxWriteIndex]]).
    *
    * TWO permutation stages: polyHash of a short digit-string id is
    * tiny (≤ ~1.7e6 for 4-char ids), and a single (a·h+b) mod P2 of
    * a tiny value never wraps — order-preserving, so every position
    * would argmin at the same smallest-hash neighbor (matches = 8
    * for any pair sharing that one neighbor). The second fixed
    * permutation always wraps (stage-1 output spans up to P2, and
    * even the smallest stage-1 value ~1.5e6 × Stage2.a wraps P2
    * dozens of times), restoring per-position independence. Stage 2
    * uses [[graft.functions.Hashing.Stage2]], a coefficient pair
    * deliberately OUTSIDE Perms — reusing a Perms member would make
    * that position's two stages the same affine map composed with
    * itself. */
  private def neighborMinhash(adj: DataFrame,
                              nHashes: Int): DataFrame = {
    import graft.functions.Hashing
    val as = typedLit(Hashing.Perms.take(nHashes).map(_._1))
    val bs = typedLit(Hashing.Perms.take(nHashes).map(_._2))
    val (s2a, s2b) = Hashing.Stage2
    adj
      .withColumn("__base", Hashing.polyHash(col("n").cast("string")))
      .withColumn("i", explode(sequence(lit(0), lit(nHashes - 1))))
      .select(col("a"), col("i"),
        pmod(pmod(col("__base") * element_at(as, col("i") + 1) +
          element_at(bs, col("i") + 1), lit(Hashing.P2)) * lit(s2a) +
          lit(s2b), lit(Hashing.P2)).as("h"))
      .groupBy(col("a"), col("i")).agg(min(col("h")).as("h"))
  }

  /** The banding + exact-verify + top-k tail shared by
    * [[linkPredictApprox]] and [[linkPredictApproxFromIndex]]:
    * `e` = the known-edge set (u < v) for the non-adjacency anti
    * join, `adj` = degree-capped adjacency rows, `sigs` = (a, i, h)
    * signatures over exactly `adj`'s nodes. */
  private def approxRankTail(e: DataFrame, adj: DataFrame,
                             sigs: DataFrame, k: Int, minCn: Long,
                             maxBucket: Int): DataFrame = {
    val oversize = sigs.groupBy(col("i"), col("h"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket)
      .select(col("i"), col("h"))
    // the surviving signatures PINNED keyed on the band key at
    // full width: the band self-join's pair emission is byte-light in
    // and CPU-heavy out, so every shuffle-fed form of this relation
    // ended up on an AQE-coalesced 2-task read (measured 2.2 s — the
    // §43 trap; a plain explicit spread does not survive the
    // optimizer either, which pushes the anti join below a
    // repartition and strips it as redundant). A pinned scan cannot
    // be coalesced and serves BOTH sides of the self-join with zero
    // exchange and zero sort.
    val banded = Pin.pin(
      sigs.join(oversize, Seq("i", "h"), "left_anti"),
      "linkpred.banded", Seq(col("i"), col("h")))
    val cand = banded.select(col("i"), col("h"), col("a").as("u"))
      .join(banded.select(col("i"), col("h"), col("a").as("v")),
        Seq("i", "h"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
      .join(e, Seq("u", "v"), "left_anti")
    // EXACT verification on the screened candidates only, in the
    // ARRAY-INTERSECTION form: per node one sorted neighbor array
    // (one agg), each candidate pair ships two arrays and computes
    // cn = |array_intersect| inside codegen — degrees come free as
    // array sizes. The row-explosion form this replaced
    // (cand ⋈ adj ⋈ adj → count) pushed Σ_cand(deg_u) ≈ 10⁹ rows
    // through a unique-keyed aggregate at sf0.1 and measured 187 s;
    // the array form moves the same information as |cand| rows of
    // array payload with no re-aggregation (19.8 s — 9.5× faster,
    // SCALE.md §39).
    val nbrs = adj.groupBy(col("a"))
      .agg(sort_array(collect_list(col("n"))).as("nbr"))
    cand
      .join(nbrs.select(col("a").as("u"), col("nbr").as("__nu")), "u")
      .join(nbrs.select(col("a").as("v"), col("nbr").as("__nv")), "v")
      .select(col("u"), col("v"),
        size(array_intersect(col("__nu"), col("__nv"))).cast("long")
          .as("cn"),
        size(col("__nu")).cast("long").as("deg_u"),
        size(col("__nv")).cast("long").as("deg_v"))
      .filter(col("cn") >= minCn)
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        expr("(cn * 1000000L) div (deg_u + deg_v - cn)")
          .cast("long").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("u").asc, col("v").asc)
      .limit(k)
  }

  /** Batch-build the persisted link-prediction signature index under
    * `dir` — the one-time ingest of build-once/rank-many for the
    * graph family (the ivfPqWriteIndex economics applied to
    * [[linkPredictApprox]]): the per-node signature agg — the
    * linear-but-large leg, O(edges · nHashes) — is paid once here;
    * every later [[linkPredictApproxFromIndex]] call pays only
    * banding + verification. Layout: `sigs/` minima written first,
    * `adj/` last so adj's `_SUCCESS` is the completion marker a crash
    * can't fake. */
  def linkApproxWriteIndex(edges: DataFrame, dir: String,
                           nHashes: Int = 8): Unit = {
    val spark = edges.sparkSession
    // in-place REBUILD honesty: drop the old adj completion marker
    // BEFORE touching sigs — without this, a crash after the sigs
    // overwrite but before the adj overwrite left the OLD complete
    // adj (marker present) paired with NEW/partial sigs, and
    // linkApproxIndexExists reported the inconsistent index complete.
    // Shipped call sites build into a fresh dir via publishIndexAtomic;
    // this closes the public API's in-place path too.
    val marker = new org.apache.hadoop.fs.Path(s"$dir/adj/_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val adj = Pin.pin(e.select(col("u").as("a"), col("v").as("n"))
      .unionByName(e.select(col("v").as("a"), col("u").as("n")))
      .dropDuplicates(Seq("a", "n")))
    neighborMinhash(adj, nHashes)
      .write.mode("overwrite").parquet(s"$dir/sigs")
    adj.write.mode("overwrite").parquet(s"$dir/adj")
  }

  /** True iff a complete [[linkApproxWriteIndex]] build exists under
    * `dir` (`adj/_SUCCESS` — adj is written last). */
  def linkApproxIndexExists(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/adj/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** [[linkPredictApprox]] served from the PERSISTED signature index
    * a [[linkApproxWriteIndex]] build maintains under `dir`:
    *
    *  - `adj/` — (a, n) adjacency rows, one per distinct pair;
    *  - `sigs/` — per-(a, i) minhash minima, min-folded at read (one
    *    hash agg).
    *
    * The degree cap, band skip, verification and ranking are the
    * in-query tail verbatim, so the result equals
    * [[linkPredictApprox]] over the indexed edges row-for-row
    * (GraphSpec pins it). This is the economics of the persisted PQ
    * index applied to the graph family: ranking never recomputes a
    * signature from scratch. */
  def linkPredictApproxFromIndex(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, k: Int, nHashes: Int = 8,
                                 minCn: Long = 2L,
                                 maxBucket: Int = DefaultMaxGroupSize,
                                 maxDegree: Int = DefaultMaxGroupSize): DataFrame = {
    val adjAll = Tables.read(spark, s"$dir/adj")
    val e = Pin.pin(adjAll.filter(col("a") < col("n"))
      .select(col("a").as("u"), col("n").as("v")))
    val okDeg = adjAll.groupBy(col("a")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") <= maxDegree).select(col("a"))
    val adj = adjAll.join(okDeg, Seq("a"), "left_semi")
    val sigs = Pin.pin(Tables.read(spark, s"$dir/sigs")
      .groupBy(col("a"), col("i")).agg(min(col("h")).as("h"))
      .join(okDeg, Seq("a"), "left_semi"))
    approxRankTail(e, adj, sigs, k, minCn, maxBucket)
  }

  /** Recall of [[linkPredictApprox]]'s top-k pair set against the
    * exact [[linkPredict]] top-k — one row: how many of the exact
    * ranker's pairs the screened ranker surfaced, in exact ppm. The
    * ann_recall pattern applied to link prediction: every
    * approximate operator in this library ships with the audit that
    * prices its approximation. Because scores are exact on both
    * sides, the miss mass is pure BANDING misses — expected recall
    * ≈ 1−(1−j)^nHashes at the top-k's Jaccard level, the dial a
    * deployment turns (more hashes = more recall, linear cost). */
  def linkPredictApproxRecall(edges: DataFrame, minCn: Long, k: Int,
                              nHashes: Int = 8): DataFrame = {
    val e = Pin.pin(edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")))
    // ONE shared front for both rankers (round-13, guide §2.4): the
    // exact and approx tails read the SAME pinned degree agg and the
    // SAME pinned capped adjacency. Before, each ranker re-pinned the
    // edge set, re-derived the adjacency, re-aggregated degrees and
    // pinned its own copy of the identical capped relation — this
    // query paid the whole front twice (it was the suite's top wall,
    // 21.5 s isolated; the front is data-identical on both paths, so
    // the ranked rows cannot change). Both rankers use the default
    // maxDegree, which is what the previous nested calls used too.
    val (deg, adjOk, packable) = cappedAdjacency(e, DefaultMaxGroupSize,
      "linkpred.recall")
    val exact = linkPredictTail(e, deg, adjOk, packable, minCn, k)
      .select(col("u"), col("v"))
    val approx = approxRankTail(e, adjOk,
      Pin.pin(neighborMinhash(adjOk, nHashes)), k, minCn,
      DefaultMaxGroupSize)
      .select(col("u"), col("v"), lit(1L).as("__hit"))
    exact.join(approx, Seq("u", "v"), "left")
      .agg(count(lit(1)).cast("long").as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).cast("long").as("n_hit"))
      .select(col("n_exact"), col("n_hit"),
        expr("cast(n_hit as decimal(38,0)) * 1000000 " +
          "div greatest(n_exact, 1)").cast("long").as("recall_ppm"))
  }

  /** Shared CTE chain for the approx-link oracles: lineitem co-order
    * edges → per-node minhash signatures → capped single-row-band
    * candidates → EXACT scoring of the screened pairs, ending at
    * `approx`(u, v, cn, deg_u, deg_v, jaccard_ppm) BEFORE the top-k
    * cut. */
  private def linkPredictApproxCtes(nHashes: Int, minCn: Long,
                                    maxBucket: Int,
                                    maxDegree: Int): String = {
    import graft.functions.Hashing
    val aCase = Hashing.Perms.take(nHashes).zipWithIndex
      .map { case ((a, _), i) => s"WHEN $i THEN $a" }.mkString(" ")
    val bCase = Hashing.Perms.take(nHashes).zipWithIndex
      .map { case ((_, b), i) => s"WHEN $i THEN $b" }.mkString(" ")
    s"""
    |g AS (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem),
    |ok AS (
    |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
    |e AS (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |adj AS (SELECT u AS a, v AS n FROM e UNION ALL SELECT v, u FROM e),
    |deg AS (SELECT a, count(*) AS degree FROM adj GROUP BY a),
    |adjc AS (
    |  SELECT adj.a, adj.n FROM adj JOIN deg ON deg.a = adj.a
    |  WHERE deg.degree <= $maxDegree),
    |base AS (
    |  SELECT a, ${Hashing.polyHashSql("CAST(n AS VARCHAR)")} AS bh
    |  FROM adjc),
    |sigs AS (
    |  SELECT a, r.i,
    |    min((((bh * (CASE r.i $aCase END)
    |      + (CASE r.i $bCase END)) % ${Hashing.P2})
    |      * ${Hashing.Stage2._1} + ${Hashing.Stage2._2}) % ${Hashing.P2}) AS h
    |  FROM base CROSS JOIN (SELECT unnest(range(0, $nHashes)) AS i) r
    |  GROUP BY a, r.i),
    |banded AS (
    |  SELECT s.* FROM sigs s
    |  JOIN (SELECT i, h FROM sigs GROUP BY i, h
    |        HAVING count(*) <= $maxBucket) okb
    |    ON okb.i = s.i AND okb.h = s.h),
    |cand AS (
    |  SELECT DISTINCT b1.a AS u, b2.a AS v
    |  FROM banded b1 JOIN banded b2
    |    ON b1.i = b2.i AND b1.h = b2.h AND b1.a < b2.a),
    |noncand AS (
    |  SELECT c.u, c.v FROM cand c
    |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v)),
    |nbrs AS (SELECT a, list_sort(list(n)) AS nbr FROM adjc GROUP BY a),
    |cnv AS (
    |  SELECT c.u, c.v,
    |    CAST(len(list_intersect(nu.nbr, nv.nbr)) AS BIGINT) AS cn,
    |    CAST(len(nu.nbr) AS BIGINT) AS deg_u,
    |    CAST(len(nv.nbr) AS BIGINT) AS deg_v
    |  FROM noncand c
    |    JOIN nbrs nu ON nu.a = c.u
    |    JOIN nbrs nv ON nv.a = c.v),
    |approx AS (
    |  SELECT u, v, cn, deg_u, deg_v,
    |    CAST((cn * 1000000) // (deg_u + deg_v - cn) AS BIGINT)
    |      AS jaccard_ppm
    |  FROM cnv WHERE cn >= $minCn)""".stripMargin.trim
  }

  /** DuckDB twin of [[linkPredictApprox]] over lineitem co-edges. */
  def linkPredictApproxOracleSql(k: Int, nHashes: Int = 8,
                                 minCn: Long = 2L,
                                 maxBucket: Int = DefaultMaxGroupSize,
                                 maxDegree: Int = DefaultMaxGroupSize): String =
    s"""
    |WITH ${linkPredictApproxCtes(nHashes, minCn, maxBucket, maxDegree)}
    |SELECT u, v, cn, deg_u, deg_v, jaccard_ppm FROM approx
    |ORDER BY jaccard_ppm DESC, u, v LIMIT $k
    |""".stripMargin.trim

  /** DuckDB twin of [[linkPredictApproxRecall]] over lineitem
    * co-edges (exact chain parameters as in [[linkPredictOracleSql]]). */
  def linkPredictApproxRecallOracleSql(minCn: Long, k: Int,
                                       nHashes: Int = 8,
                                       maxBucket: Int =
                                         DefaultMaxGroupSize,
                                       maxDegree: Int =
                                         DefaultMaxGroupSize): String =
    s"""
    |WITH ${linkPredictApproxCtes(nHashes, minCn, maxBucket, maxDegree)},
    |adjok AS (
    |  SELECT adj.a, adj.n FROM adj JOIN deg ON deg.a = adj.a
    |  WHERE deg.degree <= $DefaultMaxGroupSize),
    |cncand AS (
    |  SELECT w1.n AS u, w2.n AS v, count(*) AS cn
    |  FROM adjok w1 JOIN adjok w2 ON w1.a = w2.a AND w1.n < w2.n
    |  GROUP BY 1, 2 HAVING count(*) >= $minCn),
    |exact AS (
    |  SELECT c.u, c.v
    |  FROM cncand c
    |    JOIN deg du ON du.a = c.u JOIN deg dv ON dv.a = c.v
    |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v)
    |  ORDER BY (c.cn * 1000000) // (du.degree + dv.degree - c.cn) DESC,
    |    c.u, c.v
    |  LIMIT $k),
    |atop AS (
    |  SELECT u, v FROM approx
    |  ORDER BY jaccard_ppm DESC, u, v LIMIT $k)
    |SELECT CAST(count(*) AS BIGINT) AS n_exact,
    |  CAST(count(a.u) AS BIGINT) AS n_hit,
    |  CAST(CAST(count(a.u) AS HUGEINT) * 1000000
    |    // greatest(count(*), 1) AS BIGINT) AS recall_ppm
    |FROM exact x LEFT JOIN atop a ON a.u = x.u AND a.v = x.v
    |""".stripMargin.trim

  /** Degree assortativity: do hubs link to hubs? The mixing number
    * (Newman 2002 — public) behind "is this near-dup graph a few
    * boilerplate megaclusters (assortative) or star-shaped template
    * families (disassortative)?" — it decides whether component
    * contraction or star-peeling is the right dedup follow-up.
    *
    * Computed as the SPEARMAN correlation of (deg(u), deg(v)) over
    * all DIRECTED edge instances (both orientations, the standard
    * symmetrization) — reusing [[Profiler.spearmanCorr]]'s exact-
    * rational rank machinery: ranks are exact integers, ρ·10⁶ is a
    * single integer division, bit-identical on both engines, no
    * Pearson float folds or sqrt. (Rank-based assortativity is also
    * the robust choice: degree distributions are heavy-tailed and a
    * moment-based Pearson is hub-dominated.)
    *
    * Scale: degrees are one hash agg over the edge list; the pair
    * table is 2m rows; the rank machinery is two two-phase global
    * ranks (no single-task sort — see spearmanCorr's scaladoc). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val adj = e.select(col("u").as("s"), col("v").as("t"))
      .unionAll(e.select(col("v").as("s"), col("u").as("t")))
    val deg = adj.groupBy(col("s").as("n")).agg(count(lit(1)).as("d"))
    val pairs = adj
      .join(deg.select(col("n").as("s"), col("d").as("xa")), Seq("s"))
      .join(deg.select(col("n").as("t"), col("d").as("xb")), Seq("t"))
      .select(col("xa"), col("xb"), col("s").as("k0"), col("t").as("k1"))
    Profiler.spearmanCorr(pairs, col("xa"), col("xb"),
      Seq(col("k0"), col("k1")))
  }

  /** DuckDB twin of [[degreeAssortativity]] over the co-order graph
    * of a `lineitem` slice (`whereSql` filters the scan — mirrored
    * by the Spark side's pushed predicate). Rank machinery follows
    * [[Profiler.spearmanOracleSql]]. */
  def degreeAssortativityOracleSql(whereSql: String): String =
    s"""
    |WITH g AS (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem WHERE $whereSql),
    |ok AS (
    |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
    |e AS (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |adj AS (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
    |deg AS (SELECT s AS n, count(*) AS d FROM adj GROUP BY 1),
    |rows0 AS (
    |  SELECT CAST(du.d AS BIGINT) AS xa, CAST(dv.d AS BIGINT) AS xb,
    |    adj.s AS k0, adj.t AS k1
    |  FROM adj JOIN deg du ON du.n = adj.s JOIN deg dv ON dv.n = adj.t),
    |ra AS (
    |  SELECT xa, xb, k0, k1,
    |    CAST(row_number() OVER (ORDER BY xa, xb, k0, k1) AS HUGEINT) AS ra
    |  FROM rows0),
    |rb AS (
    |  SELECT xa, xb, k0, k1,
    |    CAST(row_number() OVER (ORDER BY xb, xa, k0, k1) AS HUGEINT) AS rb
    |  FROM rows0),
    |rao AS (
    |  SELECT *, row_number() OVER (PARTITION BY xa, xb, k0, k1
    |    ORDER BY ra) AS occ FROM ra),
    |rbo AS (
    |  SELECT *, row_number() OVER (PARTITION BY xa, xb, k0, k1
    |    ORDER BY rb) AS occ FROM rb)
    |SELECT CAST(count(*) AS BIGINT) AS n_rows,
    |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
    |  CAST(1000000 - (6000000 * sum((ra - rb) * (ra - rb)))
    |    // (CAST(count(*) AS HUGEINT)
    |        * (CAST(count(*) AS HUGEINT) * count(*) - 1)) AS BIGINT)
    |    AS rho_ppm
    |FROM rao JOIN rbo USING (xa, xb, k0, k1, occ)
    |""".stripMargin.trim

  /** Bounded-round k-core peeling (Seidman 1983; the MapReduce
    * bounded-iteration form follows Montresor et al. — public):
    * repeatedly delete nodes of degree < k and report the graph's
    * (n_nodes, n_edges) after each peel round. The dedup/link-farm
    * triage number: a near-dup graph whose 3-core survives peeling
    * is template spam, organic similarity dissolves in 1-2 rounds.
    *
    * Full decomposition iterates to a fixpoint whose round count is
    * data-dependent (worst case O(n) on a path — unusable as a
    * declared deterministic query), so the DECLARED semantics are
    * exactly `rounds` peels: at 100 TB each round is one degree agg
    * + two semi-joins, all hash-partitioned on node id, and R is a
    * dial. Each round's survivor edge set is [[Pin.pin]]ned — it
    * feeds both that round's census row and the next round, and
    * without the pin round r's lineage re-evaluates rounds 1..r−1
    * (quadratic recompute). Census rows are 1-row aggregates. */
  def kcoreRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    def census(r: Int, e: DataFrame): DataFrame = {
      val nodes = e.select(explode(array(col("u"), col("v"))).as("n"))
        .agg(countDistinct(col("n")).as("n_nodes"))
      val m = e.agg(count(lit(1)).as("n_edges"))
      nodes.crossJoin(m).select(lit(r.toLong).as("round"),
        col("n_nodes").cast("long").as("n_nodes"),
        col("n_edges").cast("long").as("n_edges"))
    }
    var e = Pin.pin(edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")), "kcore.edges", Seq(col("u")))
    var out = census(0, e)
    for (r <- 1 to rounds) {
      val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("n"))
      // per-round relation stays Pin-only BY MEASUREMENT: kcore's
      // round work is byte-proportional (two semi joins + counts —
      // no CPU-dense kernel), so AQE's byte sizing is the right
      // width and a forced per-round spread measured 1.9s vs 1.7s
      // at sf0.1 (pure added exchange). The spread discipline is for
      // byte-LIGHT/CPU-HEAVY round inputs; the one-time keyed pin
      // above carries the single-task check for this family.
      e = Pin.pin(e
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
      out = out.unionAll(census(r, e))
    }
    out.orderBy("round")
  }

  /** DuckDB twin of [[kcoreRounds]] over the co-order graph of a
    * `lineitem` slice — the peel unrolled as one CTE chain per
    * round (the declared bounded-round semantics, verbatim). Every
    * e$r is `AS MATERIALIZED`: each round is consumed by THREE
    * downstream references (degree build, census n_nodes, census
    * n_edges), and DuckDB's default CTE inlining would re-evaluate
    * the whole prefix chain per reference — ~5^R blowup, minutes at
    * sf0.01 (observed). Materialization is the oracle-side analog of
    * the Spark side's [[Pin.pin]] per round. */
  def kcoreRoundsOracleSql(whereSql: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH g AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
      |  FROM lineitem WHERE $whereSql),
      |ok AS MATERIALIZED (
      |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.i AS u, b.i AS v
      |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
      |  WHERE a.o IN (SELECT o FROM ok))""".stripMargin
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s""",
        |k$r AS MATERIALIZED (
        |  SELECT x FROM (
        |    SELECT u AS x FROM e$p UNION ALL SELECT v AS x FROM e$p)
        |  GROUP BY x HAVING count(*) >= $k),
        |e$r AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e$p e
        |  JOIN k$r ku ON ku.x = e.u
        |  JOIN k$r kv ON kv.x = e.v)""".stripMargin
    }
    val census = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
        |  CAST((SELECT count(DISTINCT x) FROM (
        |    SELECT u AS x FROM e$r UNION ALL SELECT v AS x FROM e$r))
        |    AS BIGINT) AS n_nodes,
        |  CAST((SELECT count(*) FROM e$r) AS BIGINT) AS n_edges"""
        .stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY round")
    sb ++= census
    sb.toString
  }

  /** DuckDB twin of [[linkPredict]] over the part co-order graph —
    * mirrors both guards (oversize baskets at edge build, oversize
    * apexes at wedge build). */
  def linkPredictOracleSql(minCn: Long, k: Int): String =
    s"""
    |WITH g AS (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem),
    |ok AS (
    |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
    |e AS (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |adj AS (SELECT u AS a, v AS n FROM e UNION ALL SELECT v, u FROM e),
    |deg AS (SELECT a, count(*) AS degree FROM adj GROUP BY a),
    |adjok AS (
    |  SELECT adj.a, adj.n FROM adj JOIN deg ON deg.a = adj.a
    |  WHERE deg.degree <= $DefaultMaxGroupSize),
    |cand AS (
    |  SELECT w1.n AS u, w2.n AS v, count(*) AS cn
    |  FROM adjok w1 JOIN adjok w2 ON w1.a = w2.a AND w1.n < w2.n
    |  GROUP BY 1, 2 HAVING count(*) >= $minCn),
    |nonedge AS (
    |  SELECT c.u, c.v, c.cn FROM cand c
    |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v))
    |SELECT u, v, CAST(cn AS BIGINT) AS cn,
    |  CAST(du.degree AS BIGINT) AS deg_u,
    |  CAST(dv.degree AS BIGINT) AS deg_v,
    |  (cn * 1000000) // (du.degree + dv.degree - cn) AS jaccard_ppm
    |FROM nonedge JOIN deg du ON du.a = u JOIN deg dv ON dv.a = v
    |ORDER BY jaccard_ppm DESC, u, v LIMIT $k
    |""".stripMargin.trim

  /** Degree-histogram pre-flight for the common-neighbor rankers —
    * the "measure before you load" gate (the watermark-read
    * discipline of J35, applied to graph cost): one row of exact
    * sizing facts a deployment reads BEFORE paying for
    * [[linkPredict]] / [[clusteringCoeff]], because their cost model
    * is wedge mass, not edge count (SCALE.md §39:
    * rows × E[deg²]/E[deg]). Columns:
    *
    *  - `n_nodes`, `n_edges` — the graph's size;
    *  - `d_p10/d_p50/d_p90/d_p99/d_p999/d_max` — exact degree
    *    deciles + the hub tail (rank-based, value at ceiling rank —
    *    no float percentiles), the numbers that say whether a
    *    `maxDegree` cap will bite and where to set it;
    *  - `wedge_mass` = Σ deg² — the exact wedge-enumeration volume
    *    an uncapped CN ranker pays (§39's 46-minute lesson was one
    *    hub's deg² ≈ 3.5·10⁹ alone);
    *  - `wedge_per_edge_ppm` = Σdeg²·10⁶ div Σdeg — E[deg²]/E[deg]
    *    in exact ppm, the per-edge cost multiplier that separates a
    *    healthy graph (≈ mean degree) from a hub-dominated one.
    *
    * Scale shape: degrees are one hash agg over 2m adjacency rows;
    * everything after runs on the DEGREE HISTOGRAM — at most
    * max-degree distinct rows, usually a few hundred — so the one
    * global window (the cumulative rank) sorts the histogram, never
    * the nodes. Sums fold in decimal(38,0): Σdeg² at a 10⁸-degree
    * hub is 10¹⁶ before the ppm multiply, past int64 × 10⁶. */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("a"))
      .groupBy(col("a")).agg(count(lit(1)).as("d"))
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("nd"))
    // cumulative node count in degree order — a window over the
    // HISTOGRAM (≤ max-degree rows), not the node table
    val cum = hist.withColumn("cum",
      sum(col("nd")).over(Window.orderBy(col("d"))))
    val tot = hist.agg(
      sum(col("nd")).as("__n"),
      sum(col("d").cast("decimal(38,0)") * col("nd")).as("__sd"),
      sum(col("d").cast("decimal(38,0)") * col("d") * col("nd"))
        .as("__sd2"),
      max(col("d")).as("__dmax"))
    def pct(ppm: Long): Column =
      min(when(col("cum") >=
        expr(s"(__n * $ppm + 999999L) div 1000000L"), col("d")))
        .cast("long")
    cum.crossJoin(broadcast(tot))
      .groupBy(col("__n"), col("__sd"), col("__sd2"), col("__dmax"))
      .agg(
        pct(100000L).as("d_p10"), pct(500000L).as("d_p50"),
        pct(900000L).as("d_p90"), pct(990000L).as("d_p99"),
        pct(999000L).as("d_p999"))
      .select(
        col("__n").cast("long").as("n_nodes"),
        expr("__sd div 2").cast("long").as("n_edges"),
        col("d_p10"), col("d_p50"), col("d_p90"), col("d_p99"),
        col("d_p999"), col("__dmax").cast("long").as("d_max"),
        col("__sd2").cast("long").as("wedge_mass"),
        expr("(__sd2 * 1000000) div __sd").cast("long")
          .as("wedge_per_edge_ppm"))
  }

  /** DuckDB twin of [[degreeHistogram]] over the part co-order
    * graph (same `g/ok/e` chain as [[linkPredictOracleSql]]). */
  def degreeHistogramOracleSql: String =
    s"""
    |WITH g AS (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem),
    |ok AS (
    |  SELECT o FROM g GROUP BY o HAVING count(*) <= $DefaultMaxGroupSize),
    |e AS (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |adj AS (SELECT u AS a, v AS n FROM e UNION ALL SELECT v, u FROM e),
    |deg AS (SELECT a, count(*) AS d FROM adj GROUP BY a),
    |hist AS (SELECT d, count(*) AS nd FROM deg GROUP BY d),
    |cum AS (SELECT d, nd, sum(nd) OVER (ORDER BY d) AS cum FROM hist),
    |tot AS (
    |  SELECT sum(nd) AS n, sum(CAST(d AS HUGEINT) * nd) AS sd,
    |    sum(CAST(d AS HUGEINT) * d * nd) AS sd2, max(d) AS dmax
    |  FROM hist)
    |SELECT CAST(t.n AS BIGINT) AS n_nodes,
    |  CAST(t.sd // 2 AS BIGINT) AS n_edges,
    |  CAST(min(CASE WHEN c.cum >= (t.n * 100000 + 999999) // 1000000
    |    THEN c.d END) AS BIGINT) AS d_p10,
    |  CAST(min(CASE WHEN c.cum >= (t.n * 500000 + 999999) // 1000000
    |    THEN c.d END) AS BIGINT) AS d_p50,
    |  CAST(min(CASE WHEN c.cum >= (t.n * 900000 + 999999) // 1000000
    |    THEN c.d END) AS BIGINT) AS d_p90,
    |  CAST(min(CASE WHEN c.cum >= (t.n * 990000 + 999999) // 1000000
    |    THEN c.d END) AS BIGINT) AS d_p99,
    |  CAST(min(CASE WHEN c.cum >= (t.n * 999000 + 999999) // 1000000
    |    THEN c.d END) AS BIGINT) AS d_p999,
    |  CAST(t.dmax AS BIGINT) AS d_max,
    |  CAST(t.sd2 AS BIGINT) AS wedge_mass,
    |  CAST((t.sd2 * 1000000) // t.sd AS BIGINT) AS wedge_per_edge_ppm
    |FROM cum c CROSS JOIN tot t
    |GROUP BY t.n, t.sd, t.sd2, t.dmax
    |""".stripMargin.trim
}

/** Multi-source breadth-first search over an undirected edge
  * relation: shortest hop-distance from every seed to everything
  * within `maxHops`.
  *
  * The pipeline reading: "what does this node's k-hop neighborhood
  * look like" is the locality question behind spam-farm detection
  * (a link farm reaches thousands of nodes in 2 hops), supplier
  * blast-radius ("if this part is recalled, which co-ordered parts
  * sit within 2 hops"), and sampling a subgraph around a suspect
  * node for inspection. The per-(seed, dist) census is the
  * effective-diameter profile a 100 TB deployment prices a traversal
  * with before running it — the [[degreeHistogram]] pre-flight
  * discipline applied to reach.
  *
  * Contract: the SEED SET IS BOUNDED (a declared predicate, like the
  * broadcast query side of every ANN scan) — the state relation is
  * |seeds|·reach rows, NOT |V|², and that bound is the operator's
  * scale story. The frontier expansion is the textbook distributed
  * BFS: per level ONE equi join frontier⋈adj (shuffled on the hop
  * key) + ONE left-anti against the visited set (shuffled on
  * (seed, node)) + a distinct — all hash-keyed, no windows, no
  * driver loops; levels are FIXED (maxHops), so the plan unrolls
  * like every bounded-rounds operator in this tree
  * ([[Community.lpa]], [[kcoreRounds]]).
  *
  * Visited/frontier are localCheckpoint'd per level — each level's
  * lineage would otherwise stack all prior joins into one plan
  * (the [[Dedup.starComponents]] lesson). Dist is BIGINT; nodes with
  * no seed within reach simply don't appear (oracle mirrors). */
object Bfs {

  /** (seed, node_id, dist) for every seed `u < seedMax` present in
    * the graph, dist 0..maxHops, shortest-path semantics (a node
    * appears once per seed, at its first level). */
  def reach(edges: DataFrame, seedMax: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // pin before the mirror-union (two subtrees would re-derive the
    // co-occurrence pair join twice), spread before the checkpoint
    // (AQE would coalesce a small agg to one partition and serialize
    // every level's expansion join)
    val e = Pin.pin(edges)
    val adj = Pin.pin(e
      .select(col("u").cast("long").as("x"), col("v").cast("long").as("y"))
      .unionByName(e.select(col("v").cast("long").as("x"),
        col("u").cast("long").as("y")))
      .distinct(), "bfs.adj", Seq(col("x")))
    var visited = Pin.pin(adj.select(col("x")).distinct()
      .filter(col("x") < seedMax)
      .select(col("x").as("seed"), col("x").as("node_id"),
        lit(0L).as("dist")))
    var frontier = visited
    for (lvl <- 1 to maxHops) {
      val next = Pin.pin(frontier
        .select(col("seed"), col("node_id").as("x"))
        .join(adj, Seq("x"))
        .select(col("seed"), col("y").as("node_id")).distinct()
        .join(visited.select(col("seed"), col("node_id")),
          Seq("seed", "node_id"), "left_anti")
        .withColumn("dist", lit(lvl.toLong)))
      visited = Pin.pin(visited.unionByName(next))
      frontier = next
    }
    visited
  }

  /** Per-(seed, dist) census of [[reach]]: the neighborhood-growth
    * profile (n_nodes at each hop distance). */
  def levels(edges: DataFrame, seedMax: Long, maxHops: Int): DataFrame =
    reach(edges, seedMax, maxHops)
      .groupBy(col("seed"), col("dist"))
      .agg(count(lit(1)).as("n_nodes"))

  /** Edge + adjacency + unrolled level CTEs over the part co-order
    * graph (the [[Graph.coEdges]] chain verbatim), ending at
    * `vis$maxHops(seed, node_id, dist)`. MATERIALIZED throughout —
    * each level feeds the next twice (expansion + anti-join). */
  private def bfsCtes(seedMax: Long, maxHops: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""g AS MATERIALIZED (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem),
    |ok AS MATERIALIZED (
    |  SELECT o FROM g GROUP BY o
    |  HAVING count(*) <= ${Graph.DefaultMaxGroupSize}),
    |e0 AS MATERIALIZED (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |adj AS MATERIALIZED (
    |  SELECT u AS x, v AS y FROM e0 UNION ALL SELECT v, u FROM e0),
    |vis0 AS MATERIALIZED (
    |  SELECT DISTINCT x AS seed, x AS node_id, CAST(0 AS BIGINT) AS dist
    |  FROM adj WHERE x < $seedMax),
    |f0 AS MATERIALIZED (SELECT seed, node_id FROM vis0)""".stripMargin
    for (l <- 1 to maxHops) {
      val p = l - 1
      sb ++= s""",
      |f$l AS MATERIALIZED (
      |  SELECT DISTINCT f.seed, a.y AS node_id
      |  FROM f$p f JOIN adj a ON a.x = f.node_id
      |  WHERE NOT EXISTS (SELECT 1 FROM vis$p v
      |                    WHERE v.seed = f.seed AND v.node_id = a.y)),
      |vis$l AS MATERIALIZED (
      |  SELECT * FROM vis$p
      |  UNION ALL
      |  SELECT seed, node_id, CAST($l AS BIGINT) FROM f$l)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB twin of [[reach]] over the part co-order graph. */
  def reachOracleSql(seedMax: Long, maxHops: Int): String =
    s"""
    |WITH ${bfsCtes(seedMax, maxHops)}
    |SELECT seed, node_id, dist FROM vis$maxHops
    |ORDER BY seed, dist, node_id
    |""".stripMargin.trim

  /** DuckDB twin of [[levels]]. */
  def levelsOracleSql(seedMax: Long, maxHops: Int): String =
    s"""
    |WITH ${bfsCtes(seedMax, maxHops)}
    |SELECT seed, dist, count(*) AS n_nodes FROM vis$maxHops
    |GROUP BY seed, dist
    |ORDER BY seed, dist
    |""".stripMargin.trim
}

/** Bounded-hop single-source shortest paths over the WEIGHTED
  * co-occurrence graph — the cost-aware generalization of [[Bfs]]:
  * an edge's length is `1e6 DIV w` (inverse co-occurrence count), so
  * paths through frequently-co-ordered pairs are short and the
  * distance ranks "how tightly is this node coupled to the seed",
  * not just hop count. The recommendation/substitution reading: the
  * lowest-dist nodes around a part are its strongest transitive
  * substitutes even when they never co-occur directly.
  *
  * Bellman-Ford with a FIXED round count (the bounded-rounds
  * discipline): each round relaxes every current estimate through
  * the adjacency (one equi join) and folds with the prior state
  * through a keyed min — monotone, so replays/extra rounds are
  * no-ops once converged within the hop bound. All integer: lengths
  * and distances are exact fixed point, min is order-independent,
  * and ties cannot diverge between engines. Same bounded-seed
  * contract as [[Bfs.reach]]: the state is |seeds|·reach rows. */
object Sssp {

  /** Distinct undirected co-occurrence edges WITH multiplicity
    * (u < v, w = number of groups sharing the pair) — [[Graph.coEdges]]
    * with the count kept; same oversize-group guard. */
  def coEdgesWeighted(df: DataFrame, group: Column, item: Column,
                      maxGroupSize: Int = Graph.DefaultMaxGroupSize)
      : DataFrame = {
    val g = Graph.guardedItems(df, group, item, maxGroupSize)
    g.select(col("g"), col("i").as("u"))
      .join(g.select(col("g"), col("i").as("v")), Seq("g"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
  }

  /** (seed, node_id, dist_fp) for seeds `u < seedMax`, where dist is
    * the min-cost path within `rounds` hops, edge cost `1e6 DIV w`. */
  def sssp(edges: DataFrame, seedMax: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Pin.pin(edges)
    val adj = Pin.pin(e.select(col("u").cast("long").as("x"),
        col("v").cast("long").as("y"),
        expr("1000000 DIV w").as("len"))
      .unionByName(e.select(col("v").cast("long").as("x"),
        col("u").cast("long").as("y"), expr("1000000 DIV w").as("len"))),
      "sssp.adj", Seq(col("x")))
    var dist = Pin.pin(adj.select(col("x")).distinct()
      .filter(col("x") < seedMax)
      .select(col("x").as("seed"), col("x").as("node_id"),
        lit(0L).as("dist_fp")))
    // NOT frontier-only: the queue discipline of textbook
    // Bellman-Ford (propose candidates only from last round's
    // improvements) was implemented and MEASURED SLOWER here —
    // 215 s vs 149 s at ×100, 4.8 s vs 3.4 s at sf0.1 — because at
    // rounds=3 on a diameter-~2 co-purchase graph nearly every
    // estimate improves in rounds 1-2 (the frontier IS the state)
    // while the change-detection adds a state-sized join + an extra
    // checkpoint per round. The optimization pays only when
    // rounds ≫ diameter; at this operator's declared hop bounds the
    // simple full relaxation wins (SCALE.md §47).
    for (_ <- 1 to rounds) {
      val cand = dist.select(col("seed"), col("node_id").as("x"),
          col("dist_fp"))
        .join(adj, Seq("x"))
        .select(col("seed"), col("y").as("node_id"),
          (col("dist_fp") + col("len")).as("dist_fp"))
      dist = Pin.pin(dist.unionByName(cand)
        .groupBy(col("seed"), col("node_id"))
        .agg(min(col("dist_fp")).as("dist_fp")))
    }
    dist
  }

  /** Weighted-edge + unrolled relaxation CTEs over the part co-order
    * graph, ending at `d$rounds`. */
  private def ssspCtes(seedMax: Long, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""g AS MATERIALIZED (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem),
    |ok AS MATERIALIZED (
    |  SELECT o FROM g GROUP BY o
    |  HAVING count(*) <= ${Graph.DefaultMaxGroupSize}),
    |e0 AS MATERIALIZED (
    |  SELECT a.i AS u, b.i AS v, count(*) AS w
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)
    |  GROUP BY 1, 2),
    |adj AS MATERIALIZED (
    |  SELECT u AS x, v AS y, 1000000 // w AS len FROM e0
    |  UNION ALL SELECT v, u, 1000000 // w FROM e0),
    |d0 AS MATERIALIZED (
    |  SELECT DISTINCT x AS seed, x AS node_id, CAST(0 AS BIGINT) AS dist_fp
    |  FROM adj WHERE x < $seedMax)""".stripMargin
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s""",
      |c$r AS MATERIALIZED (
      |  SELECT d.seed, a.y AS node_id, d.dist_fp + a.len AS dist_fp
      |  FROM d$p d JOIN adj a ON a.x = d.node_id),
      |d$r AS MATERIALIZED (
      |  SELECT seed, node_id, min(dist_fp) AS dist_fp
      |  FROM (SELECT * FROM d$p UNION ALL SELECT * FROM c$r)
      |  GROUP BY 1, 2)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB twin of [[sssp]] over the part co-order graph. */
  def ssspOracleSql(seedMax: Long, rounds: Int): String =
    s"""
    |WITH ${ssspCtes(seedMax, rounds)}
    |SELECT seed, node_id, dist_fp FROM d$rounds
    |ORDER BY seed, node_id
    |""".stripMargin.trim

  /** Bounded-horizon closeness centrality per seed: how many nodes
    * the seed reaches within the round budget and the mean weighted
    * distance to them (exact integer: sum DIV count) — the standard
    * "which catalog anchors sit nearest to everything" ranking,
    * derived from the [[sssp]] state with one keyed aggregate. The
    * self row (dist 0) is excluded from the mean's numerator AND
    * denominator, so a seed's score reflects its neighborhood, not
    * itself. */
  def closeness(edges: DataFrame, seedMax: Long,
                rounds: Int): DataFrame =
    sssp(edges, seedMax, rounds)
      .filter(col("node_id") =!= col("seed"))
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist_fp")).as("__sd"))
      .select(col("seed"), col("n_reached"),
        expr("__sd DIV n_reached").as("mean_dist_fp"))

  /** DuckDB twin of [[closeness]]. */
  def closenessOracleSql(seedMax: Long, rounds: Int): String =
    s"""
    |WITH ${ssspCtes(seedMax, rounds)}
    |SELECT seed, count(*) AS n_reached,
    |  CAST(sum(dist_fp) // count(*) AS BIGINT) AS mean_dist_fp
    |FROM d$rounds WHERE node_id <> seed
    |GROUP BY seed ORDER BY seed
    |""".stripMargin.trim
}

/** Personalized PageRank over the item co-occurrence graph (Page et
  * al. 1999; the seed-restricted teleport form of Jeh & Widom,
  * "Scaling Personalized Web Search", WWW 2003 — public).
  *
  * Where [[graft.ext.Dedup.pairPageRank]] answers "which nodes are
  * globally central", PPR answers the RECOMMENDATION question: given
  * a seed set (a user's purchase history, a query's known-relevant
  * documents, a contaminated-document cluster), which nodes does the
  * graph pull toward THAT set — the random surfer restarts at a seed
  * instead of anywhere. A training pipeline uses it to expand a
  * curated seed list through the near-dup/co-occurrence graph
  * (find-more-like-these) and, inverted, to trace contamination
  * spread from known-bad documents.
  *
  * Arithmetic is the [[graft.ext.Dedup.pairPageRank]] discipline
  * verbatim: 1e12 fixed point, per round one equi-join on the
  * symmetrized edge relation + one keyed agg, damping split as
  * `(15·tele) DIV 100 + (85·in) DIV 100` with truncating DIV (all
  * values non-negative → truncation direction engine-identical).
  * The ONLY delta from the global form: the teleport vector is
  * `Scale DIV n_seeds` on seeds and ZERO elsewhere (n_seeds rides
  * along as a 1-row broadcast — the C8 scalar-injection pattern),
  * and ranks initialize AT the teleport vector so round 1 already
  * reads as one surfer step from the seeds.
  *
  * Scale shape: adjacency pinned keyed on the source once
  * ([[graft.ext.Pin.pin]] — the §43/§47 iterating-family
  * discipline), per round one shuffle keyed on the edge source + one
  * keyed agg; score state is |V| rows, localCheckpoint'd per round
  * (bounded plan depth). Mass leaks only by DIV truncation (no
  * dangling nodes exist: every node enters via an edge, so deg ≥ 1
  * everywhere) — ranks are a RANKING, not a probability, same
  * contract as the global form. */
object Ppr {

  val Scale = 1000000000000L

  /** `iters` PPR rounds over undirected `(u, v)` edges with seeds
    * `node_id < seedMax`. Output one row per node:
    * `(node_id, deg, is_seed, ppr_fp)`. */
  def ppr(edges: DataFrame, seedMax: Long, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("u").cast("long").as("src"),
        col("v").cast("long").as("dst"))
      .unionByName(edges.select(col("v").cast("long").as("src"),
        col("u").cast("long").as("dst")))
    val adj = Pin.pin(e, "ppr.adj", Seq(col("src")))
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ns = deg.filter(col("src") < seedMax)
      .agg(count(lit(1)).as("__ns"))
    val nodes = deg.select(col("src").as("node_id"), col("deg"))
      .crossJoin(broadcast(ns))
      .withColumn("is_seed",
        when(col("node_id") < seedMax, 1L).otherwise(0L))
      .withColumn("tele_fp",
        expr(s"CASE WHEN is_seed = 1 THEN $Scale DIV __ns " +
          "ELSE 0L END"))
      .drop("__ns")
    var ranks = Pin.pin(nodes.withColumn("pr_fp", col("tele_fp")))
    for (_ <- 1 to iters) {
      val contrib = adj
        .join(ranks.select(col("node_id").as("src"),
          expr("pr_fp DIV deg").as("__c")), "src")
        .groupBy(col("dst")).agg(sum(col("__c")).as("__in"))
      ranks = Pin.pin(ranks.drop("pr_fp")
        .join(contrib.withColumnRenamed("dst", "node_id"),
          Seq("node_id"), "left")
        .withColumn("pr_fp", expr(
          "(15 * tele_fp) DIV 100 + (85 * coalesce(__in, 0L)) DIV 100"))
        .drop("__in"))
    }
    ranks.select(col("node_id"), col("deg"), col("is_seed"),
      col("pr_fp").as("ppr_fp"))
  }

  /** DuckDB twin of [[ppr]] over the part co-order graph (same
    * `g/ok` guard chain as [[Sssp.ssspOracleSql]], unweighted
    * edges); the fixed iteration count unrolls into one CTE per
    * round. */
  def pprOracleSql(seedMax: Long, iters: Int): String = {
    val tele = s"CASE WHEN d.node_id < $seedMax " +
      s"THEN $Scale // (SELECT n FROM ns) ELSE 0 END"
    val iterCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "p0" else s"it${i - 1}"
      s"""it$i AS MATERIALIZED (
         |  SELECT d.node_id, d.deg,
         |    (15 * ($tele)) // 100 +
         |      (85 * coalesce(s.insum, 0)) // 100 AS pr_fp
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst, sum(p.pr_fp // p.deg) AS insum
         |    FROM edges e JOIN $prev p ON p.node_id = e.src
         |    GROUP BY e.dst) s ON s.dst = d.node_id)""".stripMargin
    }.mkString(",\n")
    s"""
    |WITH g AS MATERIALIZED (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem),
    |ok AS MATERIALIZED (
    |  SELECT o FROM g GROUP BY o
    |  HAVING count(*) <= ${Graph.DefaultMaxGroupSize}),
    |e0 AS MATERIALIZED (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |edges AS MATERIALIZED (
    |  SELECT u AS src, v AS dst FROM e0
    |  UNION ALL SELECT v, u FROM e0),
    |deg AS MATERIALIZED (
    |  SELECT src AS node_id, count(*) AS deg FROM edges GROUP BY src),
    |ns AS (SELECT count(*) AS n FROM deg WHERE node_id < $seedMax),
    |p0 AS MATERIALIZED (
    |  SELECT node_id, deg,
    |    CASE WHEN node_id < $seedMax
    |         THEN $Scale // (SELECT n FROM ns) ELSE 0 END AS pr_fp
    |  FROM deg),
    |$iterCtes
    |SELECT node_id, CAST(deg AS BIGINT) AS deg,
    |  CAST(CASE WHEN node_id < $seedMax THEN 1 ELSE 0 END AS BIGINT)
    |    AS is_seed,
    |  CAST(pr_fp AS BIGINT) AS ppr_fp
    |FROM it$iters ORDER BY node_id
    |""".stripMargin.trim
  }

  /** Per-seed PPR top-k recommendations — the output shape a
    * find-more-like-these deployment actually serves: each seed gets
    * its OWN personalization vector (restart at that single seed),
    * and the answer is the k highest-scoring nodes that are neither
    * the seed nor one of its direct neighbors (the items it already
    * "has"). Where [[ppr]] scores the corpus against a seed SET,
    * this ranks candidates per seed — seed-list expansion with the
    * known items excluded.
    *
    * Same 1e12 fixed point and truncating-DIV damping as [[ppr]].
    * State is SPARSE per-seed mass `(seed, node_id, pr_fp)` rows —
    * round 0 is the seed diagonal, each round adds the contribution
    * frontier, so state is seeds·reach (the [[Sssp]] bound), never
    * seeds·V on a graph wider than the horizon. Per round: one
    * equi-join of the state on the spread adjacency + one keyed agg
    * on `(seed, dst)`, then the teleport diagonal rejoins via a
    * distinct-union domain (the SAME relation algebra the oracle's
    * unrolled CTEs spell out). The neighbor exclusion is one
    * anti-join against the seeds' adjacency rows; ranking is a
    * per-seed window with the house tie-break (score desc, node_id
    * asc). Output `(seed, node_id, ppr_fp, rank)`, k rows per seed
    * at most. */
  def pprRecommend(edges: DataFrame, seedMax: Long, iters: Int,
                   k: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("u").cast("long").as("src"),
        col("v").cast("long").as("dst"))
      .unionByName(edges.select(col("v").cast("long").as("src"),
        col("u").cast("long").as("dst")))
    val adj = Pin.pin(e, "ppr.rec.adj", Seq(col("src")))
    val deg = Pin.pin(adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node_id"), col("deg")))
    val seeds = deg.filter(col("node_id") < seedMax)
      .select(col("node_id").as("seed"))
    var st = Pin.pin(seeds.select(col("seed"), col("seed").as("node_id"),
        lit(Scale).as("pr_fp")))
    for (_ <- 1 to iters) {
      val contrib = st.join(deg, Seq("node_id"))
        .select(col("seed"), col("node_id").as("src"),
          expr("pr_fp DIV deg").as("__c"))
        .join(adj, Seq("src"))
        .groupBy(col("seed"), col("dst")).agg(sum(col("__c")).as("__in"))
      val dom = contrib.select(col("seed"), col("dst").as("node_id"))
        .unionByName(seeds.select(col("seed"),
          col("seed").as("node_id")))
        .distinct()
      st = Pin.pin(dom
        .join(contrib.withColumnRenamed("dst", "node_id"),
          Seq("seed", "node_id"), "left")
        .withColumn("pr_fp", expr(
          s"CASE WHEN node_id = seed THEN (15 * ${Scale}L) DIV 100 " +
            "ELSE 0L END + (85 * coalesce(__in, 0L)) DIV 100"))
        .drop("__in"))
    }
    val known = adj.filter(col("src") < seedMax)
      .select(col("src").as("seed"), col("dst").as("node_id"))
    val w = Window.partitionBy(col("seed"))
      .orderBy(col("pr_fp").desc, col("node_id").asc)
    st.filter(col("node_id") =!= col("seed"))
      .join(known, Seq("seed", "node_id"), "left_anti")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("seed"), col("node_id"), col("pr_fp").as("ppr_fp"),
        col("rank"))
  }

  /** DuckDB twin of [[pprRecommend]]: the sparse per-seed state
    * unrolled one CTE pair (contribution, domain+update) per round,
    * then the anti-join exclusion and the ranked cut. */
  def pprRecommendOracleSql(seedMax: Long, iters: Int,
                            k: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "st0" else s"st${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT p.seed, e.dst, sum(p.pr_fp // dg.deg) AS insum
         |  FROM $prev p
         |  JOIN deg dg ON dg.node_id = p.node_id
         |  JOIN edges e ON e.src = p.node_id
         |  GROUP BY p.seed, e.dst),
         |st$i AS MATERIALIZED (
         |  SELECT d.seed, d.node_id,
         |    CASE WHEN d.node_id = d.seed THEN (15 * $Scale) // 100
         |         ELSE 0 END +
         |      (85 * coalesce(c.insum, 0)) // 100 AS pr_fp
         |  FROM (SELECT seed, dst AS node_id FROM c$i
         |        UNION
         |        SELECT seed, seed FROM seeds) d
         |  LEFT JOIN c$i c
         |    ON c.seed = d.seed AND c.dst = d.node_id)""".stripMargin
    }.mkString(",\n")
    s"""
    |WITH g AS MATERIALIZED (
    |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS i
    |  FROM lineitem),
    |ok AS MATERIALIZED (
    |  SELECT o FROM g GROUP BY o
    |  HAVING count(*) <= ${Graph.DefaultMaxGroupSize}),
    |e0 AS MATERIALIZED (
    |  SELECT DISTINCT a.i AS u, b.i AS v
    |  FROM g a JOIN g b ON a.o = b.o AND a.i < b.i
    |  WHERE a.o IN (SELECT o FROM ok)),
    |edges AS MATERIALIZED (
    |  SELECT u AS src, v AS dst FROM e0
    |  UNION ALL SELECT v, u FROM e0),
    |deg AS MATERIALIZED (
    |  SELECT src AS node_id, count(*) AS deg FROM edges GROUP BY src),
    |seeds AS (SELECT node_id AS seed FROM deg WHERE node_id < $seedMax),
    |st0 AS MATERIALIZED (
    |  SELECT seed, seed AS node_id, CAST($Scale AS HUGEINT) AS pr_fp
    |  FROM seeds),
    |$iterCtes,
    |ranked AS (
    |  SELECT s.seed, s.node_id, s.pr_fp,
    |    row_number() OVER (PARTITION BY s.seed
    |                       ORDER BY s.pr_fp DESC, s.node_id) AS rank
    |  FROM st$iters s
    |  WHERE s.node_id <> s.seed
    |    AND NOT EXISTS (
    |      SELECT 1 FROM edges e
    |      WHERE e.src = s.seed AND e.dst = s.node_id))
    |SELECT seed, node_id, CAST(pr_fp AS BIGINT) AS ppr_fp,
    |  CAST(rank AS BIGINT) AS rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY seed, rank
    |""".stripMargin.trim
  }
}
