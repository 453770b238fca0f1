package graft.tools

/** Dump `.explain("formatted")` for declared queries to files in an
  * output dir — plan evidence for an optimization. Usage:
  *   ExplainDump <sfDir> <outDir> <suffix> <query> [query...]
  * writes `<outDir>/<query>_<suffix>.txt` per query. Plans are
  * compiled under the same session as graft.Bench ([[graft.Harness]])
  * so join strategies and exchange counts match what the bench
  * executes. The printed plan is the initial AQE plan, but
  * constructing a query DOES run its eager pins (each a
  * localCheckpoint job) — so each dump costs real work.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = graft.Harness.session()
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(
        new java.io.File(s"$outDir/${n}_$suffix.txt"), "UTF-8")
      try w.println(plan) finally w.close()
      println(s"wrote $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
