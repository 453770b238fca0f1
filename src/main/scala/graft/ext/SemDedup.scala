package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecMath
import Similarity.{cosine, dot, dotSql}

/** Cluster-scoped semantic curation over an embedding column: the
  * SemDeDup family (Abbas et al. 2023, "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication") plus the
  * D4-style prototypicality prune (Tirumala et al. 2023) and a
  * cluster-health outlier audit. No reference analog (extension
  * surface, SURVEY §7.6).
  *
  * All three operators share ONE assignment pass ([[semanticAssign]]):
  * each vector goes to its top-1 centroid, scored by the compiled
  * shortlist kernel + exact-decimal re-rank (the
  * [[Similarity.withNearestCells]] machinery — identical determinism
  * contract to the IVF/cell paths, so the DuckDB oracles can replay
  * the argmax bit-for-bit).
  *
  * Scale posture: assignment is n·k compiled FMAs (the measured-linear
  * leg of the cell path, SCALE.md §10); pairing is CLUSTER-scoped —
  * cost is Σ|cluster|², which is the published algorithm's own knob
  * (k grows with n so clusters stay bounded; the paper runs k = 11k
  * clusters for 100M+ points). Nothing here is all-pairs, and the
  * keep/prune/health reductions are single hash-shuffles on the
  * cluster key.
  *
  * vs [[Similarity.cellNearDupPairs]]: the cell path is a RECALL
  * device (nProbe > 1 probes neighboring cells so near-dup pairs
  * straddling a boundary are still found); SemDeDup is the published
  * cluster-scoped TRADE — pairs crossing a cluster boundary are
  * deliberately out of scope, buying the Σ|c|² bound. Both keep rules
  * are one-hop (documented retention caveat as
  * [[Dedup.keepAfterNearDup]]).
  */
object SemDedup {

  /** Per-vector top-1 centroid assignment with the cosine to that
    * centroid: (vid, e, n2, f2, cluster, cos_c). Centroids are the
    * sample codebook (`vec_id < nClusters` — the repo-wide
    * oracle-replayable convention). cos_c is exact-decimal dot /
    * double sqrt norms —
    * bit-identical in DuckDB, so downstream ORDER BY / threshold
    * comparisons agree across engines. */
  private[graft] def semanticAssign(corpus: DataFrame, id: String,
                                    emb: String,
                                    nClusters: Int): DataFrame =
    withCosC(corpus, id, emb, nClusters,
      Similarity.withNearestCells(corpus, id, emb, nClusters, nProbe = 1))

  /** [[semanticAssign]] through the two-level assignment
    * ([[Similarity.withNearestCellsHier]]): rank ~`nSuper` supers,
    * then only the probed supers' children — O(n·√k) instead of
    * O(n·k), the measured 1000× remedy (SCALE.md §23.1: the flat
    * n·k assignment is 8.2 TFLOP/pass at k=16,000 over 2M vectors;
    * with nSuper=√k the FMA budget drops ~60×). With `nSuper` ≤
    * `sProbe` every super is probed, so the assignment — and hence
    * every downstream keep/prune decision — is IDENTICAL to the flat
    * path (SemDedupSpec pins it); larger ratios trade boundary-vector
    * exactness for the decade. */
  private[graft] def semanticAssignHier(corpus: DataFrame, id: String,
                                        emb: String, nClusters: Int,
                                        nSuper: Int,
                                        sProbe: Int = 2): DataFrame =
    withCosC(corpus, id, emb, nClusters,
      Similarity.withNearestCellsHier(corpus, id, emb, nClusters,
        nSuper, nProbe = 1, sProbe = sProbe))

  /** Attach the own-centroid cosine to a (vid, e, n2, f2, cells[1])
    * assignment. */
  private def withCosC(corpus: DataFrame, id: String, emb: String,
                       nClusters: Int, assigned0: DataFrame): DataFrame = {
    val assigned = assigned0
      .select(col("vid"), col("e"), col("n2"), col("f2"),
        element_at(col("cells"), 1).as("cluster"))
    val cents = corpus.filter(col(id) < nClusters)
      .select(col(id).cast("long").as("cluster"), col(emb).as("__ct"))
    assigned.join(broadcast(cents), Seq("cluster"))
      .withColumn("cos_c",
        cosine(dot(col("e"), col("__ct")), col("n2"),
          dot(col("__ct"), col("__ct"))))
      .select(col("vid"), col("e"), col("n2"), col("f2"),
        col("cluster"), col("cos_c"))
  }

  /** Shared oracle CTE chain: `cent` (sample centroids), `v` (all
    * vectors), `sem`(vid, c_id, cosc) — the top-1 assignment with the
    * exact-decimal cosine, tie-broken score DESC then c_id ASC exactly
    * like the Spark side's byScoreDescCidAsc re-rank. */
  private def semCtes(dim: Int, nClusters: Int): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |              FROM embeddings WHERE vec_id < $nClusters),
    |v AS (SELECT vec_id AS vid, embedding AS e FROM embeddings),
    |sem AS (
    |  SELECT vid, c_id, cosc FROM (
    |    SELECT v.vid, cent.c_id, ${cos("v.e", "cent.ct_emb")} AS cosc,
    |      row_number() OVER (PARTITION BY v.vid
    |        ORDER BY ${cos("v.e", "cent.ct_emb")} DESC, cent.c_id) AS rn
    |    FROM v, cent) WHERE rn = 1)""".stripMargin
  }

  private def cosSql(dim: Int, a: String, b: String): String =
    s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
      s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
      s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"

  /** SemDeDup: (vec_id, cluster, cos_c, keep). Within each cluster,
    * vectors pairing at cos ≥ `tau` are semantic duplicates; from each
    * duplicate pair the MORE prototypical end (higher cos_c; tie →
    * larger id) is dropped — the paper's keep-least-prototypical rule
    * (keeping the atypical copy preserves diversity), expressed as the
    * repo's deterministic one-hop relation so both engines agree
    * without iterating to a fixpoint.
    *
    * Shape: one assignment pass (localCheckpoint'ed — consumed by both
    * pair ends), cluster-keyed self-join with the float-dot prefilter
    * ahead of the exact-decimal cosine, doc-keyed distinct on the drop
    * set, one left join. */
  def semDedup(corpus: DataFrame, id: String, emb: String,
               nClusters: Int, tau: Double): DataFrame =
    semDedupFrom(semanticAssign(corpus, id, emb, nClusters), tau)

  /** [[semDedup]] with the O(n·√k) two-level assignment — the
    * configuration that survives k ∝ n into the third decade
    * (SCALE.md §23.1). */
  def semDedupHier(corpus: DataFrame, id: String, emb: String,
                   nClusters: Int, nSuper: Int, tau: Double,
                   sProbe: Int = 2): DataFrame =
    semDedupFrom(
      semanticAssignHier(corpus, id, emb, nClusters, nSuper, sProbe), tau)

  private def semDedupFrom(assign: DataFrame, tau: Double): DataFrame = {
    require(tau > 0, s"tau must be positive, got $tau")
    val a = Pin.pin(assign)
    val l = Dedup.spread(
      a.select(col("cluster"), col("vid").as("d1"), col("e").as("e1"),
        col("n2").as("n1"), col("f2").as("fn1"), col("cos_c").as("c1")),
      col("cluster"))
    val r = a.select(col("cluster").as("__cl2"), col("vid").as("d2"),
      col("e").as("e2"), col("n2").as("__n2v"), col("f2").as("__fn2"),
      col("cos_c").as("c2"))
    val dropped = l
      .join(r, col("cluster") === col("__cl2") && col("d1") < col("d2"))
      .filter(VecMath.dotF(col("e1"), col("e2")) >=
        lit(tau - 1e-3) * sqrt(col("fn1") * col("__fn2")))
      .withColumn("cos",
        cosine(dot(col("e1"), col("e2")), col("n1"), col("__n2v")))
      .filter(col("cos") >= tau)
      // higher cos_c loses; ties keep the smaller id (d1 < d2)
      .select(when(col("c1") > col("c2"), col("d1"))
        .otherwise(col("d2")).as("vid"))
      .distinct()
    a.join(dropped.withColumn("__dropped", lit(true)), Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cluster"),
        round(col("cos_c"), 6).as("cos_c"),
        col("__dropped").isNull.as("keep"))
  }

  /** The pair/drop/report tail shared by the flat and hier oracles —
    * appended to a WITH chain that has defined `v`(vid, e) and
    * `sem`(vid, c_id, cosc). */
  private def semDedupTailSql(dim: Int, tau: Double): String =
    s"""pairs AS (
    |  SELECT a.vid AS d1, b.vid AS d2, a.cosc AS c1, b.cosc AS c2
    |  FROM sem a JOIN sem b ON a.c_id = b.c_id AND a.vid < b.vid
    |    JOIN v v1 ON v1.vid = a.vid JOIN v v2 ON v2.vid = b.vid
    |  WHERE ${cosSql(dim, "v1.e", "v2.e")} >= $tau),
    |dropped AS (
    |  SELECT DISTINCT CASE WHEN c1 > c2 THEN d1 ELSE d2 END AS vid
    |  FROM pairs)
    |SELECT s.vid AS vec_id, s.c_id AS cluster, round(s.cosc, 6) AS cos_c,
    |       s.vid NOT IN (SELECT vid FROM dropped) AS keep
    |FROM sem s ORDER BY vec_id""".stripMargin

  /** DuckDB twin of [[semDedup]] over `embeddings`. */
  def semDedupOracleSql(dim: Int, nClusters: Int, tau: Double): String =
    s"""
    |WITH ${semCtes(dim, nClusters)},
    |${semDedupTailSql(dim, tau)}
    |""".stripMargin.trim

  /** Two-level assignment CTE chain ending at `sem`(vid, c_id, cosc):
    * `child` re-derives the cell→super mapping (top-1 super per
    * centroid), `supassign` the per-vector probed supers (top
    * `sProbe`), and `sem` keeps the best cell reachable through a
    * probed super — the [[Similarity.cellNearDupHierOracleSql]]
    * replica at nProbe=1, carrying the assigned-cell cosine. */
  private def semCtesHier(dim: Int, nClusters: Int, nSuper: Int,
                          sProbe: Int): String = {
    def cos(a: String, b: String): String = cosSql(dim, a, b)
    s"""cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |              FROM embeddings WHERE vec_id < $nClusters),
    |sup AS (SELECT vec_id AS s_id, embedding AS s_emb
    |        FROM embeddings WHERE vec_id < $nSuper),
    |child AS (
    |  SELECT c_id, s_id FROM (
    |    SELECT cent.c_id, sup.s_id,
    |      row_number() OVER (PARTITION BY cent.c_id
    |        ORDER BY ${cos("cent.ct_emb", "sup.s_emb")} DESC, sup.s_id) AS rn
    |    FROM cent, sup) WHERE rn = 1),
    |v AS (SELECT vec_id AS vid, embedding AS e FROM embeddings),
    |supassign AS (
    |  SELECT vid, s_id FROM (
    |    SELECT v.vid, sup.s_id,
    |      row_number() OVER (PARTITION BY v.vid
    |        ORDER BY ${cos("v.e", "sup.s_emb")} DESC, sup.s_id) AS rn
    |    FROM v, sup) WHERE rn <= $sProbe),
    |sem AS (
    |  SELECT vid, c_id, cosc FROM (
    |    SELECT sa.vid, ch.c_id,
    |      ${cos("v.e", "cent.ct_emb")} AS cosc,
    |      row_number() OVER (PARTITION BY sa.vid
    |        ORDER BY ${cos("v.e", "cent.ct_emb")} DESC, ch.c_id) AS rn
    |    FROM supassign sa
    |      JOIN child ch ON ch.s_id = sa.s_id
    |      JOIN cent ON cent.c_id = ch.c_id
    |      JOIN v ON v.vid = sa.vid) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB twin of [[semDedupHier]] over `embeddings`. */
  def semDedupHierOracleSql(dim: Int, nClusters: Int, nSuper: Int,
                            tau: Double, sProbe: Int = 2): String =
    s"""
    |WITH ${semCtesHier(dim, nClusters, nSuper, sProbe)},
    |${semDedupTailSql(dim, tau)}
    |""".stripMargin.trim

  /** D4-style prototypicality prune: (vec_id, cluster, cos_c, rnk,
    * kept). Within each cluster, rank by cos_c DESC (id ASC tiebreak —
    * rank 1 is the MOST prototypical vector) and drop the top
    * ⌊dropFrac·|cluster|⌋: near-centroid points carry the least
    * marginal information, so pruning them first densifies the corpus
    * (Tirumala et al. 2023 §3, "D4" = SemDeDup + this prune). Pass a
    * binary-exact `dropFrac` (0.25, 0.5, …) so ⌊·⌋ agrees across
    * engines.
    *
    * Shape: assignment pass + two window functions over the cluster
    * key — one shuffle, no joins. */
  def clusterPrune(corpus: DataFrame, id: String, emb: String,
                   nClusters: Int, dropFrac: Double): DataFrame = {
    require(dropFrac >= 0 && dropFrac < 1,
      s"dropFrac must be in [0,1), got $dropFrac")
    val w = Window.partitionBy("cluster")
    val byProto = w.orderBy(col("cos_c").desc, col("vid"))
    semanticAssign(corpus, id, emb, nClusters)
      .withColumn("rnk", row_number().over(byProto))
      .withColumn("__n", count(lit(1)).over(w))
      .select(col("vid").as("vec_id"), col("cluster"),
        round(col("cos_c"), 6).as("cos_c"), col("rnk").cast("long").as("rnk"),
        (col("rnk") > floor(lit(dropFrac) * col("__n"))).as("kept"))
  }

  /** DuckDB twin of [[clusterPrune]] over `embeddings`. */
  def clusterPruneOracleSql(dim: Int, nClusters: Int,
                            dropFrac: Double): String =
    s"""
    |WITH ${semCtes(dim, nClusters)}
    |SELECT vid AS vec_id, c_id AS cluster, round(cosc, 6) AS cos_c,
    |  CAST(row_number() OVER (PARTITION BY c_id
    |    ORDER BY cosc DESC, vid) AS BIGINT) AS rnk,
    |  row_number() OVER (PARTITION BY c_id ORDER BY cosc DESC, vid)
    |    > floor($dropFrac * count(*) OVER (PARTITION BY c_id)) AS kept
    |FROM sem ORDER BY vec_id
    |""".stripMargin.trim

  /** Cluster-health audit: (cluster, n_vecs, n_outliers, min_cos).
    * A vector whose cosine to its OWN (nearest) centroid is below
    * `minCos` fits no cluster — embedding-space noise (corrupt decode,
    * off-domain text, adversarial content). Per-cluster counts make
    * the report k rows — the dashboard a curation pipeline watches as
    * the corpus drifts.
    *
    * Shape: assignment pass + one map-side-combining groupBy on the
    * cluster key. */
  def clusterHealth(corpus: DataFrame, id: String, emb: String,
                    nClusters: Int, minCos: Double): DataFrame =
    semanticAssign(corpus, id, emb, nClusters)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cos_c") < minCos, 1L).otherwise(0L))
          .as("n_outliers"),
        round(min(col("cos_c")), 6).as("min_cos"))

  /** DuckDB twin of [[clusterHealth]] over `embeddings`. */
  def clusterHealthOracleSql(dim: Int, nClusters: Int,
                             minCos: Double): String =
    s"""
    |WITH ${semCtes(dim, nClusters)}
    |SELECT c_id AS cluster, count(*) AS n_vecs,
    |  CAST(count(*) FILTER (cosc < $minCos) AS BIGINT) AS n_outliers,
    |  round(min(cosc), 6) AS min_cos
    |FROM sem GROUP BY c_id ORDER BY cluster
    |""".stripMargin.trim
}
