package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Pin}
import graft.schema.Tables

/** Banding audit for the simhash LSH (the skew lens of SCALE.md §8):
  * splits `simhash_dedup`'s cost into signature computation vs band-join
  * candidate enumeration, and reports the candidate-pair volume
  * Σ n·(n−1)/2 per band plus the largest buckets. Candidate volume — not
  * n²/buckets — is the true join cost under skew: a single hot bucket of
  * size m contributes m²/2 pairs regardless of how many buckets exist.
  *
  * Usage: `graft.tools.BandStats <dir>` (a SynthGen/fixture corpus dir).
  */
object BandStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Harness.session()

    val docs = Tables.src(spark, dir, "documents")
    docs.count() // warm scan

    val t0 = System.nanoTime()
    val sims = Dedup.simhash(docs, col("doc_id"), col("text"))
    // force every signature; XOR-agg cannot be pruned or short-circuited
    val chk = sims.agg(expr("bit_xor(simhash)").as("chk")).collect()(0).getLong(0)
    val tSig = (System.nanoTime() - t0) / 1e9
    println(f"signature pass: $tSig%.2f s (checksum $chk)")

    val bandBits = Dedup.SimBits / Dedup.SimBands
    val bands = sims.select(col("simhash"),
      explode(sequence(lit(0), lit(Dedup.SimBands - 1))).as("band"))
      .withColumn("bv", expr(s"shiftright(simhash, band * $bandBits)")
        .bitwiseAND(lit(Dedup.SimBandMask)))
    val stats = bands.groupBy("band", "bv").agg(count(lit(1)).as("n"))
      .groupBy("band").agg(
        count(lit(1)).as("buckets"),
        max("n").as("max_bucket"),
        sum(col("n") * (col("n") - 1) / 2).as("cand_pairs"))
      .orderBy("band")
    stats.collect().foreach { r =>
      println(f"band ${r.getInt(0)}: buckets=${r.getLong(1)}%,d " +
        f"max_bucket=${r.getLong(2)}%,d cand_pairs=${r.getDouble(3)}%,.0f")
    }

    // end-to-end pair enumeration (signature + band join + hamming),
    // repeated for a steady-state reading in this one JVM
    graft.Harness.trials(3, "pairs ")(Dedup.simhashPairs(
      Dedup.simhash(docs, col("doc_id"), col("text")), 3).count())

    // counterfactual: materialize the signature table once (the
    // lakehouse shape: sigs written, THEN band-joined) so the
    // self-join does not recompute the kernel on both sides
    graft.Harness.trials(3, "pairs (sig materialized) ")(
      Dedup.simhashPairs(Pin.pin(Dedup.simhash(docs, col("doc_id"),
        col("text"))), 3).count())
    spark.stop()
  }
}
