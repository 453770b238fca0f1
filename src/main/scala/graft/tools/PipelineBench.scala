package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.CorpusPipeline
import graft.schema.Tables

/** End-to-end corpus-pipeline throughput harness (`PipelineBench
  * <docsDir> [runs]`): per-stage rows + wall via the prepare
  * accounting, then the single-action preparePack walls (rows are
  * packed sequences) and the best run's docs/s — the number an
  * LLM-data user asks first: raw docs in → packed train sequences
  * out. */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Harness.session()
    val docs = Tables.src(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source")
    val nDocs = docs.count()
    println(s"corpus: $nDocs docs")
    val evalPred = col("source") === "src19"

    // per-stage accounting (stage counts re-run lineage: each row's
    // secs = cost of materializing the pipeline up to that stage)
    val (_, counts) = CorpusPipeline.prepare(docs, evalPred,
      rates = Seq("en" -> 300), countStages = true)
    counts.foreach(c => println(f"stage ${c.stage}%-20s ${c.rows}%10d rows  ${c.secs}%7.2f s"))

    // the end-to-end number: one action over the whole composition
    val walls = graft.Harness.trials(runs, "preparePack ")(
      CorpusPipeline.preparePack(docs, evalPred, budget = 512,
        nShards = 32, rates = Seq("en" -> 300)).count())
      .filter(_ >= 0)
    if (walls.nonEmpty)
      println(f"preparePack best: ${nDocs / walls.min}%.0f docs/s")
    spark.stop()
  }
}
