package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.schema.Tables

/** SRP-LSH banding audit for the embedding near-dup path (companion
  * to [[BandStats]]): for a (planes, tables) configuration, reports
  * per-table bucket count, max bucket and Σ n·(n−1)/2 candidate
  * volume, then times `nearDupPairs` end-to-end. Candidate volume on
  * CLUSTERED embeddings is governed by bucket skew, not the 2^planes
  * bucket-space size — this is the audit to run before sizing planes
  * and tables on a production corpus.
  *
  * Usage: `graft.tools.SrpStats <dir> <planes> <tables> <minCosine>`
  */
object SrpStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val planes = if (args.length > 1) args(1).toInt else 8
    val tables = if (args.length > 2) args(2).toInt else 4
    val minCos = if (args.length > 3) args(3).toDouble else 0.7
    val spark = graft.Harness.session()

    val emb = Tables.src(spark, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    println(s"config: dim=$dim planes=$planes tables=$tables t=$minCos")

    val buckets = emb.select(col("vec_id"),
      explode(array((0 until tables).map(tbl =>
        struct(lit(tbl).as("tbl"),
          Similarity.srpBucket(col("embedding"), dim, planes,
            tbl * planes).as("bk"))): _*)).as("tb"))
      .select(col("tb.tbl").as("tbl"), col("tb.bk").as("bk"))
    buckets.groupBy("tbl", "bk").agg(count(lit(1)).as("n"))
      .groupBy("tbl").agg(
        count(lit(1)).as("buckets"),
        max("n").as("max_bucket"),
        sum(col("n") * (col("n") - 1) / 2).as("cand_pairs"))
      .orderBy("tbl")
      .collect().foreach { r =>
        println(f"table ${r.getInt(0)}: buckets=${r.getLong(1)}%,d " +
          f"max_bucket=${r.getLong(2)}%,d cand_pairs=${r.getDouble(3)}%,.0f")
      }

    graft.Harness.trials(spark, 2, "pairs ")(Similarity.nearDupPairs(emb,
      "vec_id", "embedding", dim, planes, minCos, tables).count())
    spark.stop()
  }
}
