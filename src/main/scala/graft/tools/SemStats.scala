package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.SemDedup
import graft.schema.Tables

/** Cluster-occupancy audit + end-to-end timing for
  * [[graft.ext.SemDedup.semDedup]] (companion to [[CellStats]]).
  * SemDeDup's pair volume is Σ|cluster|²/2 — with FIXED k it grows
  * n²/k (data-quadratic); the published posture sizes k ∝ n so
  * clusters stay constant-sized. This audit prints the candidate
  * volume for a given k before paying for the pair join, then times
  * semDedup — run it at 1×/10×/100× with k fixed AND k scaled to see
  * both regimes (SCALE.md §23).
  *
  * Usage: `graft.tools.SemStats <dir> <nClusters> <tau> [nSuper]` —
  * a 4th argument switches to the O(n·√k) two-level assignment
  * ([[graft.ext.SemDedup.semDedupHier]]), the §23.1 remedy.
  */
object SemStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 16
    val tau = if (args.length > 2) args(2).toDouble else 0.4
    val nSuper = if (args.length > 3) Some(args(3).toInt) else None
    val spark = graft.Harness.session()

    val emb = Tables.src(spark, dir, "embeddings")
    println(s"config: n=${emb.count()} nClusters=$k tau=$tau" +
      nSuper.map(s => s" nSuper=$s").getOrElse(""))

    def assign() = nSuper match {
      case Some(s) =>
        SemDedup.semanticAssignHier(emb, "vec_id", "embedding", k, s)
      case None => SemDedup.semanticAssign(emb, "vec_id", "embedding", k)
    }
    val occ = assign()
      .groupBy("cluster").count()
      .agg(count(lit(1)).as("nnz"), max(col("count")).as("maxOcc"),
        sum(col("count") * (col("count") - 1) / 2).as("candPairs"))
      .head()
    println(s"occupancy: nnz_clusters=${occ.getLong(0)} " +
      s"max=${occ.getLong(1)} " +
      f"cand_pairs=${occ.getDouble(2)}%.3e")

    // rows = dropped documents
    graft.Harness.trials(spark, 3)((nSuper match {
      case Some(s) => SemDedup.semDedupHier(emb, "vec_id", "embedding",
        k, s, tau)
      case None => SemDedup.semDedup(emb, "vec_id", "embedding", k, tau)
    }).filter(!col("keep")).count())
    spark.stop()
  }
}
