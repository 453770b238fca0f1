package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.schema.Tables

/** Cell-partition audit for [[graft.ext.Similarity.cellNearDupPairs]]
  * (companion to [[SrpStats]]): for an (nCells, nProbe) configuration,
  * reports cell-occupancy skew and Σ n·(n−1)/2 candidate volume, then
  * times the pair enumeration end-to-end. `nCells` is the scale dial —
  * size it ∝ corpus so cells stay constant-sized; this audit shows
  * whether a density-adaptive partition beats fixed hyperplanes on a
  * given corpus's cluster geometry.
  *
  * Usage: `graft.tools.CellStats <dir> <nCells> <nProbe> <minCosine>
  * [nSuper sProbe]` — the optional pair switches to the two-level
  * assignment ([[graft.ext.Similarity.cellNearDupPairsHier]]).
  */
object CellStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nCells = if (args.length > 1) args(1).toInt else 64
    val nProbe = if (args.length > 2) args(2).toInt else 2
    val minCos = if (args.length > 3) args(3).toDouble else 0.7
    val nSuper = if (args.length > 4) Some(args(4).toInt) else None
    val sProbe = if (args.length > 5) args(5).toInt else 2
    val spark = graft.Harness.session()

    val emb = Tables.src(spark, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    println(s"config: dim=$dim nCells=$nCells nProbe=$nProbe t=$minCos" +
      nSuper.map(s => s" nSuper=$s sProbe=$sProbe").getOrElse(""))

    def assign() = nSuper match {
      case Some(s) => Similarity.withNearestCellsHier(
        emb, "vec_id", "embedding", nCells, s, nProbe, sProbe)
      case None => Similarity.withNearestCells(
        emb, "vec_id", "embedding", nCells, nProbe)
    }
    def pairs() = nSuper match {
      case Some(s) => Similarity.cellNearDupPairsHier(emb, "vec_id",
        "embedding", dim, nCells, s, minCos, nProbe, sProbe)
      case None => Similarity.cellNearDupPairs(emb, "vec_id",
        "embedding", dim, nCells, minCos, nProbe)
    }

    // Occupancy audit FIRST — the assignment pass alone, no pair
    // enumeration. Σ n·(n−1)/2 is the candidate volume the self-join
    // will shuffle; read it before paying for it (a dense-core cell
    // layout can make the enumeration quadratic while the assignment
    // stays linear — this printout is the dial-sizing instrument).
    val occ = assign()
      .select(explode(col("cells")).as("cell"))
      .groupBy("cell").count()
      .agg(count(lit(1)).as("nnz"),
        max(col("count")).as("maxOcc"),
        expr("percentile(count, 0.99)").as("p99"),
        sum(col("count") * (col("count") - 1) / 2).as("candPairs"))
      .head()
    println(s"occupancy: nnz_cells=${occ.getLong(0)} " +
      s"max=${occ.getLong(1)} p99=${occ.getDouble(2)} " +
      f"cand_pairs=${occ.getDouble(3)}%.3e")

    graft.Harness.trials(spark, 3, "pairs ")(pairs().count())
    spark.stop()
  }
}
