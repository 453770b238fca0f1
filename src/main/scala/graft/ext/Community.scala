package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed community detection over undirected edge relations —
  * synchronous label propagation (Raghavan, Albert & Kumara, "Near
  * linear time algorithm to detect community structures in
  * large-scale networks", Phys. Rev. E 2007 — public) plus the
  * Newman–Girvan modularity score (Phys. Rev. E 2004) that grades
  * the partition it finds. The corpus-pipeline read: cluster the
  * near-dup / co-occurrence graph into topical communities for
  * mixture balancing, and score how modular the graph actually is
  * before trusting those communities.
  *
  * LPA is declared as BOUNDED-ROUND synchronous propagation (the
  * [[Graph.kcoreRounds]] discipline): every node starts as its own
  * label; each round every node simultaneously adopts its
  * neighborhood's plurality label, ties broken to the SMALLEST label
  * — a total order, so the whole procedure is deterministic and both
  * engines replay it bit-for-bit (async LPA, the variant that
  * converges faster, is order-dependent by construction and can't be
  * oracle-checked; the fixed-round sync form is the one with a
  * defensible distributed contract). Per round the work is exactly
  * one equi-join of the 2m-row directed adjacency against the n-row
  * label relation plus one (node, label) hash aggregate and one
  * per-node top-1 — rounds multiply shuffles of the EDGE relation,
  * nothing ever grows beyond 2m rows, and there is no wedge/pair
  * blowup anywhere (hubs cost deg rows per round, not deg²).
  * At 100 TB the label relation does not broadcast; both joins
  * hash-partition on node id, so consecutive rounds reuse the same
  * partitioning. The known sync-LPA caveat — bipartite-ish
  * structures can oscillate — is why rounds is a DECLARED parameter
  * of the result, not a convergence loop: the answer is "labels
  * after R sync rounds", reproducible anywhere.
  *
  * Modularity is exact fixed-point: Q = Σ_c [ e_c/m − (d_c/2m)² ]
  * in ppm, with the quadratic term computed in decimal(38,0) /
  * HUGEINT (d_c² · 10⁶ overflows int64 once Σdeg passes ~3·10⁶ —
  * the engines' wide-integer types match exactly, the
  * [[graft.ext.Similarity]] HLL precedent).
  */
object Community {

  /** Directed adjacency (both orientations) of an undirected (u < v)
    * edge relation — built once and pinned; LPA consumes it every
    * round and the modularity scorer twice more. */
  private def adjacency(edges: DataFrame): DataFrame =
    Pin.pin(edges
      .select(col("u").cast("long").as("node"), col("v").cast("long").as("nbr"))
      .unionAll(edges
        .select(col("v").cast("long").as("node"), col("u").cast("long").as("nbr"))),
      "lpa.adj", Seq(col("node")))

  /** `rounds` synchronous LPA rounds over `edges`. Returns the final
    * (node_id, community) labeling, community ids being node ids (a
    * community is named by whichever label won — stable because the
    * tie-break is total). Each round's label relation is pinned: the
    * next round and the census both consume it, and an unpinned
    * chain would re-execute every prior round's join per consumer. */
  def lpa(edges: DataFrame, rounds: Int): DataFrame =
    lpaChain(edges, rounds)._1
      .select(col("node").as("node_id"), col("label").as("community"))
      .orderBy("node_id")

  /** LPA + per-round census — (final labels, (round, n_communities,
    * largest) trajectory including round 0). The census is the dial
    * a deployment reads to size `rounds`: label mass consolidating
    * round over round, the LPA analog of [[Prefs.btConvergence]]. */
  def lpaChain(edges: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val adj = adjacency(edges)
    def census(r: Int, lab: DataFrame): DataFrame =
      lab.groupBy(col("label")).agg(count(lit(1)).as("__sz"))
        .agg(count(lit(1)).cast("long").as("n_communities"),
          max(col("__sz")).cast("long").as("largest"))
        .select(lit(r.toLong).as("round"), col("n_communities"),
          col("largest"))
    var lab = Pin.pin(adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("label")))
    var trace = census(0, lab)
    for (r <- 1 to rounds) {
      val cand = adj
        .join(lab.select(col("node").as("nbr"), col("label")), Seq("nbr"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val win = Window.partitionBy(col("node"))
        .orderBy(col("__c").desc, col("label").asc)
      lab = Pin.pin(cand
        .withColumn("__rk", row_number().over(win))
        .filter(col("__rk") === 1)
        .select(col("node"), col("label")))
      trace = trace.unionAll(census(r, lab))
    }
    (lab, trace.orderBy("round"))
  }

  /** Per-round LPA census as a declared query. */
  def lpaRounds(edges: DataFrame, rounds: Int): DataFrame =
    lpaChain(edges, rounds)._2

  /** Newman–Girvan modularity of the `rounds`-round LPA partition,
    * one row per community: size, intra-community edge count, total
    * degree, and the exact ppm contribution
    * q_ppm = (e_c · 10⁶) div m − (d_c² · 10⁶) div (4m²). Σ q_ppm over
    * the rows is the partition's modularity Q in ppm (up to the
    * declared per-term truncation — identical on both engines). */
  def modularity(edges: DataFrame, rounds: Int): DataFrame = {
    val e = Pin.pin(edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")))
    val lab = Pin.pin(lpaChain(e, rounds)._1)
    val m = e.agg(count(lit(1)).as("__m"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val byC = lab.join(deg, Seq("node"))
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum(col("__d")).cast("long").as("degree_sum"))
    val intra = e
      .join(lab.select(col("node").as("u"), col("label").as("__lu")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("label").as("__lv")), Seq("v"))
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("community"))
      .agg(count(lit(1)).cast("long").as("intra_edges"))
    byC.join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"),
        // denominator widened to decimal like the numerator: 4·m²
        // wraps int64 silently past ~1.5e9 edges while the DuckDB
        // twin's HUGEINT stays exact — the one place the engines
        // would diverge at the scale the scaladoc claims
        (expr("(intra_edges * 1000000L) div __m") -
          expr("(cast(degree_sum as decimal(38,0)) * degree_sum * 1000000)" +
            " div (4 * cast(__m as decimal(38,0)) * __m)"))
          .cast("long").as("q_ppm"))
      .orderBy("community")
  }

  // ------------------------------------------------------------------
  // DuckDB twins (co-order graph of `lineitem`, the
  // [[Graph.coEdges]] chain verbatim: g / ok / e0)
  // ------------------------------------------------------------------

  /** Edge + unrolled LPA CTE prefix: `e0` (edges), `adj`, `l0` ..
    * `l$rounds`. MATERIALIZED throughout — each round feeds the next
    * round AND the census/modularity readers, and DuckDB's default
    * CTE inlining would re-evaluate the prefix chain per reference
    * (the [[Graph.kcoreRoundsOracleSql]] blowup). */
  def lpaCtes(rounds: Int): String = {
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
    |  SELECT u AS node, v AS nbr FROM e0
    |  UNION ALL SELECT v, u FROM e0),
    |l0 AS MATERIALIZED (
    |  SELECT DISTINCT node, node AS label FROM adj)""".stripMargin
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s""",
      |c$r AS MATERIALIZED (
      |  SELECT a.node, l.label, count(*) AS c
      |  FROM adj a JOIN l$p l ON l.node = a.nbr
      |  GROUP BY 1, 2),
      |l$r AS MATERIALIZED (
      |  SELECT node, label FROM (
      |    SELECT node, label, row_number() OVER (
      |      PARTITION BY node ORDER BY c DESC, label ASC) AS rk
      |    FROM c$r)
      |  WHERE rk = 1)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB twin of [[lpa]] over the part co-order graph. */
  def lpaOracleSql(rounds: Int): String =
    s"""
    |WITH ${lpaCtes(rounds)}
    |SELECT node AS node_id, label AS community FROM l$rounds
    |ORDER BY node_id
    |""".stripMargin.trim

  /** DuckDB twin of [[lpaRounds]]. */
  def lpaRoundsOracleSql(rounds: Int): String = {
    val rows = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
      |  CAST(count(*) AS BIGINT) AS n_communities,
      |  CAST(max(sz) AS BIGINT) AS largest
      |FROM (SELECT label, count(*) AS sz FROM l$r GROUP BY 1)"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""
    |WITH ${lpaCtes(rounds)}
    |$rows
    |ORDER BY round
    |""".stripMargin.trim
  }

  /** DuckDB twin of [[modularity]]. */
  def modularityOracleSql(rounds: Int): String =
    s"""
    |WITH ${lpaCtes(rounds)},
    |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    |deg AS MATERIALIZED (
    |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    |byc AS (
    |  SELECT l.label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
    |    CAST(sum(deg.d) AS BIGINT) AS degree_sum
    |  FROM l$rounds l JOIN deg ON deg.node = l.node
    |  GROUP BY 1),
    |intra AS (
    |  SELECT lu.label AS community, CAST(count(*) AS BIGINT) AS intra_edges
    |  FROM e0 e
    |  JOIN l$rounds lu ON lu.node = e.u
    |  JOIN l$rounds lv ON lv.node = e.v
    |  WHERE lu.label = lv.label
    |  GROUP BY 1)
    |SELECT b.community, b.n_nodes,
    |  CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
    |  b.degree_sum,
    |  CAST((coalesce(i.intra_edges, 0) * 1000000) // mm.m
    |    - (CAST(b.degree_sum AS HUGEINT) * b.degree_sum * 1000000)
    |      // (4 * CAST(mm.m AS HUGEINT) * mm.m) AS BIGINT) AS q_ppm
    |FROM byc b LEFT JOIN intra i ON i.community = b.community
    |CROSS JOIN mm
    |ORDER BY b.community
    |""".stripMargin.trim
}
