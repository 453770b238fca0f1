package graft

/** CLI entry: build the full warehouse from a testdata dir.
  * Usage: graft.RunPipeline <sfDir> <warehouseRoot>
  * Prints one summary line per stage; exits nonzero on validation
  * failure (reference SQL:1622 "stop each stage on error").
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, root) = args.take(2)
    val spark = Harness.session()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val res = Pipeline.runAll(spark, sfDir, root)
    println(s"[pipeline] dim_date rows=${res.dimDateRows}")
    res.dimInserts.toSeq.sortBy(_._1).foreach { case (d, n) =>
      println(s"[pipeline] dim_$d inserted=$n")
    }
    println(s"[pipeline] factsales inserted=${res.factInserts}")
    val bad = res.violations.filter(_._2 > 0)
    res.violations.toSeq.sortBy(_._1).foreach { case (c, n) =>
      println(s"[pipeline] check $c violations=$n")
    }
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
