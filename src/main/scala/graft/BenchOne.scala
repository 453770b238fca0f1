package graft

/** Ad-hoc single-query timing harness: `BenchOne <name> [sfDir] [n]`.
  * Runs the named declared query n times (default 3) and prints each
  * wall time — for isolating plan pathologies the all-queries Bench
  * hides behind JVM warmup and cross-query interference. Exits 1 when
  * a run fails. `SPARK_GRAFT_MASTER=spark://host:7077` points it at a
  * standalone cluster (the SCALE.md §35 two-executor experiment). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = Harness.session()
    val fn = SparkEntry.queries(name)
    val walls = Harness.trials(n)(fn(spark, sfDir).count())
    if (sys.env.contains("EXPLAIN")) fn(spark, sfDir).explain("formatted")
    spark.stop()
    if (walls.exists(_ < 0)) sys.exit(1)
  }
}
