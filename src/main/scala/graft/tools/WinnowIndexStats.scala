package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.Dedup
import graft.schema.Tables

/** Index audit for the winnowed-fingerprint overlap path: splits
  * `winnow_overlap`'s cost into kernel / posting-explode / df-filter /
  * self-join stages and prints the df distribution plus the candidate
  * volume Σ df·(df−1)/2 — the true self-join cost (the same
  * candidate-volume lens as [[BandStats]] and SrpStats). Run it before
  * sizing (k, w, maxDf) on a new corpus.
  *
  * Usage: `graft.tools.WinnowIndexStats <dir> [k w maxDf]`.
  */
object WinnowIndexStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 5
    val w = if (args.length > 2) args(2).toInt else 4
    val maxDf = if (args.length > 3) args(3).toInt else 50
    val spark = graft.Harness.session()

    val docs = Tables.src(spark, dir, "documents")
    docs.count() // warm scan

    val t0 = System.nanoTime()
    val fps = Dedup.winnowedFingerprints(docs, col("doc_id"), col("text"), k, w)
    val nFps = fps.agg(sum(size(col("fps")))).collect()(0).getLong(0)
    println(f"kernel pass: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      f"($nFps%,d fingerprints)")

    val t1 = System.nanoTime()
    val postings = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    val dfDist = postings.groupBy("fp").agg(count(lit(1)).as("df"))
    val agg = dfDist.agg(
      count(lit(1)).as("n_fp"),
      sum(when(col("df") === 1, 1L).otherwise(0L)).as("df1"),
      sum(when(col("df") >= 2 && col("df") <= maxDf, 1L).otherwise(0L))
        .as("kept"),
      sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("dropped"),
      max("df").as("max_df"),
      sum(when(col("df") >= 2 && col("df") <= maxDf,
        col("df") * (col("df") - 1) / 2).otherwise(0L)).as("cand_pairs"),
      sum(when(col("df") > maxDf,
        col("df") * (col("df") - 1) / 2).otherwise(0L)).as("cut_pairs"))
      .collect()(0)
    println(f"df pass: ${(System.nanoTime() - t1) / 1e9}%.2f s — " +
      f"fp=${agg.getLong(0)}%,d df1=${agg.getLong(1)}%,d " +
      f"kept=${agg.getLong(2)}%,d dropped(df>$maxDf)=${agg.getLong(3)}%,d " +
      f"max_df=${agg.getLong(4)}%,d")
    println(f"candidate volume: kept=${agg.getDouble(5)}%,.0f pairs, " +
      f"cut by df cap=${agg.getDouble(6)}%,.0f pairs")

    graft.Harness.trials(3, "end-to-end ")(Dedup.winnowOverlapPairs(
      docs, col("doc_id"), col("text"), k, w, minShared = 2,
      maxDf = maxDf).count())
    spark.stop()
  }
}
