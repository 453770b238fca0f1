package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seed-sampled, bounded-horizon betweenness centrality over the
  * item co-occurrence graph (Brandes, "A Faster Algorithm for
  * Betweenness Centrality", J. Math. Sociol. 2001; the
  * sampled-sources estimator of Brandes & Pich, "Centrality
  * Estimation in Large Networks", IJBC 2007 — both public).
  *
  * Betweenness answers the BROKER question the rest of the
  * centrality shelf cannot: PageRank/HITS score endpoints of mass
  * flows, closeness scores proximity — betweenness scores the nodes
  * shortest paths ROUTE THROUGH. In a dedup/citation graph these are
  * the bridge documents whose removal disconnects communities; in a
  * catalog co-order graph, the cross-sell brokers between otherwise
  * unlinked product clusters.
  *
  * Exact betweenness is all-pairs (O(V·E) even by Brandes) — never
  * at 100 TB. The declared contract is the standard estimator:
  * contributions from a BOUNDED seed set of sources (`node_id <
  * seedMax`), each truncated at a BOUNDED horizon (`hops`) — the
  * same two dials [[Sssp]] declares, and the same honest reading:
  * the result is the exact Brandes dependency sum over the sampled
  * sources within the horizon, not an unbiased estimate of the
  * all-pairs number.
  *
  * Shape: the forward pass is the [[Bfs]] frontier discipline with a
  * path-count ledger — per level one frontier⋈adj join, one anti-join
  * against the visited set, one keyed agg summing σ (shortest-path
  * counts: σ(v) = Σ σ(u) over predecessors, exact integers). The
  * backward pass runs the SAME joins in reverse: per level, each
  * node's dependency δ(v) = Σ_{w: succ} σ(v)·(1e6 + δ(w)) DIV σ(w)
  * — 1e6 fixed point, truncating DIV applied per edge term by both
  * engines (the σ-split of a tied shortest path is exact: 1e6 DIV 2
  * = 500000). Products are decimal(38,0)/HUGEINT so a hub's
  * σ·(1e6+δ) never wraps; quotients are ≤ 1e6·reach (σ(v) ≤ σ(w)
  * for a predecessor v), long-safe by the declared dials. State is
  * seeds·reach rows per level, localCheckpoint'd; total work is
  * 2·hops frontier joins — cost tracks the answer's size, never V².
  */
object Betweenness {

  /** Top-`k` nodes by sampled betweenness:
    * `(node_id, bet_ppm, rank)` — `bet_ppm` is the ppm-scale
    * dependency sum over sources `node_id < seedMax` within `hops`;
    * ties rank by node id. */
  def betweenness(edges: DataFrame, seedMax: Long, hops: Int,
                  k: Int): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    val e = edges.select(col("u").cast("long").as("src"),
        col("v").cast("long").as("dst"))
      .unionByName(edges.select(col("v").cast("long").as("src"),
        col("u").cast("long").as("dst")))
    val adj = Pin.pin(e, "betw.adj", Seq(col("src")))
    val seeds = adj.select(col("src").as("node_id")).distinct()
      .filter(col("node_id") < seedMax)
      .select(col("node_id").as("seed"))

    // forward: BFS levels with the path-count ledger
    val lv = new Array[DataFrame](hops + 1)
    lv(0) = Pin.pin(seeds.select(col("seed"), col("seed").as("node_id"),
        lit(1L).as("sigma")))
    var visited = Pin.pin(lv(0).select(col("seed"), col("node_id")))
    for (l <- 1 to hops) {
      val cand = lv(l - 1)
        .select(col("seed"), col("node_id").as("src"), col("sigma"))
        .join(adj, Seq("src"))
        .select(col("seed"), col("dst"), col("sigma"))
      lv(l) = Pin.pin(cand
        .join(visited.withColumnRenamed("node_id", "dst"),
          Seq("seed", "dst"), "left_anti")
        .groupBy(col("seed"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("seed"), col("dst").as("node_id"), col("sigma")))
      visited = Pin.pin(visited
        .unionByName(lv(l).select(col("seed"), col("node_id"))))
    }

    // backward: dependency accumulation, deepest level first
    val delta = new Array[DataFrame](hops + 1)
    delta(hops) = lv(hops).select(col("seed"), col("node_id"),
      lit(0L).as("delta_fp"))
    for (l <- hops - 1 to 0 by -1) {
      val wside = lv(l + 1).join(delta(l + 1), Seq("seed", "node_id"))
        .select(col("seed"), col("node_id").as("dst"),
          col("sigma").as("sigma_w"), col("delta_fp").as("delta_w"))
      val terms = lv(l)
        .select(col("seed"), col("node_id"),
          col("node_id").as("src"), col("sigma"))
        .join(adj, Seq("src"))
        .join(wside, Seq("seed", "dst"))
        .select(col("seed"), col("node_id"), expr(
          "(CAST(sigma AS DECIMAL(38,0)) * (1000000 + delta_w)) " +
            "DIV sigma_w").as("__t"))
        .groupBy(col("seed"), col("node_id"))
        .agg(sum(col("__t")).as("__d"))
      delta(l) = Pin.pin(lv(l).select(col("seed"), col("node_id"))
        .join(terms, Seq("seed", "node_id"), "left")
        .select(col("seed"), col("node_id"),
          coalesce(col("__d"), lit(0L)).as("delta_fp")))
    }

    // endpoints never count toward their own pairs: levels 1..hops.
    // The cut is orderBy+limit (TakeOrderedAndProject — distributed
    // top-k), NOT a global rank window: the node census after the
    // keyed agg is reach-sized, and a single-partition window over
    // it would serialize exactly the volume the whole operator keeps
    // distributed. rank is stamped AFTER the cut, over k rows.
    val all = (1 to hops).map(l => delta(l)).reduce(_ unionByName _)
    val w = Window.orderBy(col("bet_ppm").desc, col("node_id").asc)
    all.groupBy(col("node_id"))
      .agg(sum(col("delta_fp")).as("bet_ppm"))
      .orderBy(col("bet_ppm").desc, col("node_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("node_id"), col("bet_ppm"), col("rank"))
  }

  /** DuckDB twin of [[betweenness]] over the part co-order graph
    * (same `g/ok` guard chain as [[Sssp.ssspOracleSql]]): forward
    * levels `f0..fH` with `NOT EXISTS` visited checks, backward
    * dependencies `dH..d0`, unrolled per level. */
  def betweennessOracleSql(seedMax: Long, hops: Int, k: Int): String = {
    val fwd = (1 to hops).map { l =>
      val prev = s"f${l - 1}"
      val vis = (0 until l).map(i => s"SELECT seed, node_id FROM f$i")
        .mkString(" UNION ALL ")
      s"""f$l AS MATERIALIZED (
         |  SELECT p.seed, e.dst AS node_id, sum(p.sigma) AS sigma
         |  FROM $prev p JOIN edges e ON e.src = p.node_id
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ($vis) v
         |    WHERE v.seed = p.seed AND v.node_id = e.dst)
         |  GROUP BY p.seed, e.dst)""".stripMargin
    }.mkString(",\n")
    val bwd = (hops - 1 to 0 by -1).map { l =>
      s"""d$l AS MATERIALIZED (
         |  SELECT v.seed, v.node_id,
         |    coalesce(sum((v.sigma * (1000000 + dw.delta_fp))
         |      // fw.sigma), 0) AS delta_fp
         |  FROM f$l v
         |  LEFT JOIN edges e ON e.src = v.node_id
         |  LEFT JOIN f${l + 1} fw
         |    ON fw.seed = v.seed AND fw.node_id = e.dst
         |  LEFT JOIN d${l + 1} dw
         |    ON dw.seed = v.seed AND dw.node_id = e.dst
         |  GROUP BY v.seed, v.node_id)""".stripMargin
    }.mkString(",\n")
    val allLv = (1 to hops)
      .map(l => s"SELECT node_id, delta_fp FROM d$l")
      .mkString(" UNION ALL ")
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
    |f0 AS MATERIALIZED (
    |  SELECT i AS seed, i AS node_id, CAST(1 AS HUGEINT) AS sigma
    |  FROM (SELECT DISTINCT src AS i FROM edges) n
    |  WHERE i < $seedMax),
    |$fwd,
    |d$hops AS (
    |  SELECT seed, node_id, CAST(0 AS HUGEINT) AS delta_fp
    |  FROM f$hops),
    |$bwd,
    |bet AS (
    |  SELECT node_id, sum(delta_fp) AS bet_ppm
    |  FROM ($allLv) a GROUP BY node_id),
    |ranked AS (
    |  SELECT node_id, bet_ppm,
    |    row_number() OVER (ORDER BY bet_ppm DESC, node_id) AS rank
    |  FROM bet)
    |SELECT node_id, CAST(bet_ppm AS BIGINT) AS bet_ppm,
    |  CAST(rank AS BIGINT) AS rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY rank
    |""".stripMargin.trim
  }
}
