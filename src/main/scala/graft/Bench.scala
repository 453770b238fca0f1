package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
  * Timing is action-to-completion (`count()`), so scan + shuffle +
  * codegen costs are all inside the measured window.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // warmup: run every query once at the smallest scale factor so
    // codegen compilation + JIT of each query's operators isn't
    // billed to its timed run (steady-state measurement; the timed
    // scale factor's data is NOT touched here)
    SparkEntry.queries.foreach { case (_, fn) =>
      Harness.warm(sfDir)(fn(spark, _).count())
    }
    // best-of-2 per query: the sf0.001 warmup compiles most codegen,
    // but AQE re-plans at the timed scale factor, so a single shot
    // still bills one-off compilation to whichever query hits it —
    // min-of-2 reports steady-state throughput. A failing query
    // reports -1 and lands in "failed".
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once() = Harness.trial(s"bench $name")(fn(spark, sfDir).count())
      val runs = (1 to 2).map(_ => once())
      // adaptive third trial: when the two trials disagree by >1.5x,
      // something external (GC, page cache, a background process)
      // polluted one of them — a third sample lets min() shed it
      val all =
        if (runs.forall(_._1) &&
            runs.map(_._2).max > 1.5 * runs.map(_._2).min)
          runs :+ once()
        else runs
      val good = all.filter(_._1).map(_._2)
      name -> (if (good.nonEmpty) good.min else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // build/search decomposition for the oracle-contract rebuild
    // queries (BenchDecomp): time the build leg alone (min-of-2, same
    // protocol), search = declared total − build. Not part of the
    // driver's total; a diagnostic block in the same artifact.
    val totalsByName = results.toMap
    def timedLeg(name: String,
                 leg: (SparkSession, String) => Long): Option[Double] = {
      // same warmup as the main loop: compile the build leg's plan at
      // the smallest SF (without it, build_s can exceed the warmed
      // total_s)
      Harness.warm(sfDir)(leg(spark, _))
      val runs = (1 to 2).map(_ =>
        Harness.trial(s"bench decomp $name")(leg(spark, sfDir)))
      if (runs.forall(_._1)) Some(runs.map(_._2).min) else None
    }
    val inQueryRows = BenchDecomp.legs.toSeq.sortBy(_._1).flatMap {
      case (name, leg) =>
        totalsByName.get(name).filter(_ >= 0).flatMap { t =>
          timedLeg(name, leg).map(bs =>
            s""""$name":{"build_s":$bs,"search_s":${math.max(0.0, t - bs)},"total_s":$t}""")
        }
    }
    // persisted-index queries: the declared total IS the search leg
    // (index already on disk across trials); build is the one-time
    // ingest cost — see BenchDecomp.persistedLegs
    val persistedRows = BenchDecomp.persistedLegs.toSeq.sortBy(_._1)
      .flatMap { case (name, leg) =>
        totalsByName.get(name).filter(_ >= 0).flatMap { t =>
          timedLeg(name, leg).map(bs =>
            s""""$name":{"build_s":$bs,"search_s":$t,"total_s":${bs + t}}""")
        }
      }
    val decomp = (inQueryRows ++ persistedRows).mkString("{", ",", "}")
    // host calibration ruler (SCALE.md §51) — measured while the
    // session is still alive
    val ruler =
      try { val (c, s) = HostRuler.measure(spark)
            s"""{"cpu_s":$c,"shuffle_s":$s}""" }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] ruler failed: $e"); "{}" }
    val line = s"""{"metric":"total","value":${total(results)},"unit":"sec","queries":$qs,"decomp":$decomp,"ruler":$ruler,"failed":${failed(results)},"sf":"$sfDir"}"""
    println(line)
    // stdout tail-capture has repeatedly truncated this line (the driver's
    // BENCH_r4/r5 artifacts lost the total); a file copy is the durable record
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(out), "UTF-8")
      try w.println(line) finally w.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $out: $e")
    }
    // Printed AFTER spark.stop() (keeps stray shutdown output above
    // the line) and echoed to stderr for stderr-reading parsers.
    // build.sbt sets showSuccess:=false so sbt appends no "[success]"
    // banner after this line.
    spark.stop()
    val compact = compactLine(results, sfDir)
    System.err.println(compact)
    System.err.flush()
    println(compact)
    System.out.flush()
  }

  private def total(results: Seq[(String, Double)]): Double =
    results.map(_._2).filter(_ >= 0).sum

  private def failed(results: Seq[(String, Double)]): String =
    results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")

  /** The last stdout line, frozen: at most `LineBudget` bytes. The
    * driver parses the LAST stdout line inside a 2000-char tail window
    * (BENCH_r04..r07: the full ~8 KB line truncated mid-line and
    * parsed as null; r08-r12's totals-only last line parsed but left
    * the driver's per-query and scaling comparisons EMPTY — PERF_r12
    * n_common=0). The complete 330-entry map can never fit the window
    * (names alone are ~4.8 KB), so this line carries the HEAVIEST
    * queries' seconds (ms precision, heaviest-first prefix) up to the
    * budget, plus `n_queries` and `queries_omitted`: every query that
    * matters for a perf comparison is in the window and the line stays
    * parseable; the complete per-query map is in the first stdout line
    * and the file copy. Failed queries (-1) are listed in `failed`,
    * never in `queries`. */
  def compactLine(results: Seq[(String, Double)], sfDir: String): String = {
    def bytes(s: String) = s.getBytes("UTF-8").length
    val qHead =
      s"""{"metric":"total","value":${total(results)},"unit":"sec","queries":{"""
    def qTail(omitted: Int) =
      s"""},"n_queries":${results.size},"queries_omitted":$omitted,""" +
        s""""failed":${failed(results)},"sf":"$sfDir"}"""
    val byWeight = results.filter(_._2 >= 0).sortBy(-_._2).map {
      case (k, v) => "\"" + k + "\":" + (math.round(v * 1000) / 1000.0)
    }
    var used = bytes(qHead) + bytes(qTail(results.size))
    val kept = byWeight.takeWhile { e =>
      val fits = used + bytes(e) + 1 <= LineBudget
      if (fits) used += bytes(e) + 1
      fits
    }
    qHead + kept.mkString(",") + qTail(results.size - kept.size)
  }

  val LineBudget = 1900
}
