package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry

/** `query_mix`: one op is one pass over a fixed list of registry
  * queries, in an order the seed shuffles anew for every pass. Each
  * call is `fn(spark, dir)` (construction, which may run eager pins and
  * `.first()` jobs) followed by an action that consumes every output
  * column ([[Digest]]); the row count and checksum must match
  * `expected.tsv`. The cache is cleared after every call. A step is one
  * such call.
  *
  * The list has two strata:
  *  - one sub-second query from each warehouse layer (date dim, SCD2,
  *    fact, check, mart) and from four `graft.ext` families (Profiler,
  *    TextAnalysis, Corpus, Similarity): the job-latency floor;
  *  - two iterating graph queries, where pins, exchanges and in-row
  *    array kernels do the work; they carry the open regressions (the
  *    biased-walk kernel, and the construction-time `.first()` in
  *    `graph_triangles`).
  *
  * Set-up generates the inputs and warms up with one pass over all
  * queries and then one over the light ones, in list order, so codegen
  * and JIT are not billed to the timed passes. The JVM keeps getting
  * faster for many passes (a light pass takes about 11 s in the first
  * pass, 6 s in the second, 4.5 s in the fifth and 4 s in the tenth, on
  * a 4-core VM); how far it has got by the timed passes varies from run
  * to run.
  */
object QueryMix {
  val Scale = 0.001
  /** two passes at least: 22 steps a run */
  val MinPasses = 2
  /** warmup passes over the light queries after the first full pass */
  val LightWarmups = 1

  val Light: Seq[String] = Seq(
    "dim_date_build", "scd2_dim", "fact_build", "ref_integrity",
    "mart_top_orders", "table_checksum", "lang_id", "sample_split",
    "embedding_quantize")
  val Graph: Seq[String] = Seq("graph_walks_biased", "graph_triangles")
  val Queries: Seq[String] = Light ++ Graph

  final case class Call(wallS: Double, constructS: Double, actionS: Double,
                        constructJobs: Long, jobs: Long, result: Option[Digest.Result])

  def call(ctx: Ctx, dir: String, name: String): Call = {
    val fn = SparkEntry.queries(name)
    val traced = ctx.trace.on
    val s0 = if (traced) Some(ctx.trace.snapshot()) else None
    val t0 = System.nanoTime()
    var t1 = t0
    var s1 = s0
    val result =
      try {
        val df = ctx.trace.span(s"queries.fn.$name")(fn(ctx.spark, dir))
        t1 = System.nanoTime()
        if (traced) s1 = Some(ctx.trace.snapshot())
        Some(ctx.trace.span(s"queries.action.$name")(Digest.of(df)))
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name threw $e"); None
      }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    val s2 = if (traced) Some(ctx.trace.snapshot()) else None
    ctx.clearCache()
    System.err.println(f"[perfbench] $name%-22s fn ${(t1 - t0) / 1e9}%7.3f s  action ${(t2 - t1) / 1e9}%7.3f s")
    def jobs(a: Option[Snap], b: Option[Snap]) =
      a.zip(b).map { case (x, y) => y.jobs - x.jobs }.getOrElse(0L)
    Call((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      jobs(s0, s1), jobs(s0, s2), result)
  }

  private def check(ctx: Ctx, name: String, c: Call): Unit = c.result match {
    case None => ctx.call(name, ok = false, "threw")
    case Some(r) =>
      val why = ctx.expected.mismatch("query", name, r)
      ctx.call(name, why.isEmpty, why.getOrElse(""))
  }

  def run(ctx: Ctx, lightWarmups: Int = LightWarmups,
          minPasses: Int = MinPasses): Seq[(String, Double)] = {
    val dir = s"${ctx.work}/in"
    ctx.trace.span("inputs.generate")(Inputs.write(ctx.spark, dir, Scale))
    val results = mutable.LinkedHashMap.empty[String, mutable.Set[Digest.Result]]
    def note(name: String, c: Call): Unit =
      if (ctx.record.isDefined) c.result.foreach(r =>
        results.getOrElseUpdate(name, mutable.Set.empty) += r)
      else check(ctx, name, c)

    ctx.trace.span("warmup")(
      for (q <- Queries ++ Seq.fill(lightWarmups)(Light).flatten)
        note(q, call(ctx, dir, q)))
    val setupS = ctx.uptime

    val walls = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val (passes, overhead) = Main.loop(ctx, minPasses) { i =>
      val order = new scala.util.Random(ctx.seed * 1000003L + i).shuffle(Queries)
      val traceOn = ctx.trace.on
      val a = if (traceOn) Some(ctx.trace.opStart()) else None
      val t0 = System.nanoTime()
      val calls = order.map { q =>
        val c = call(ctx, dir, q)
        note(q, c)
        c
      }
      val wall = (System.nanoTime() - t0) / 1e9
      walls ++= calls.map(_.wallS)
      a.foreach { s =>
        val b = ctx.trace.snapshot()
        layers += Trace.engineMetrics(ctx.trace, s, b, ctx.cores) ++ Seq(
          "queries.construct_s" -> calls.map(_.constructS).sum,
          "queries.construct_jobs" -> calls.map(_.constructJobs).sum.toDouble,
          "queries.action_s" -> calls.map(_.actionS).sum,
          "queries.jobs_per_query" -> calls.map(_.jobs).sum.toDouble / calls.size,
          "jvm.heap_peak_mb" -> ctx.trace.heapPeakMb,
          "pin.storage_mb_peak" -> ctx.trace.engine.storagePeak / Trace.Mb)
      }
      wall
    }

    if (ctx.record.isDefined) {
      results.foreach { case (name, rs) =>
        val rows = rs.map(_.rows)
        require(rows.size == 1, s"$name row counts differ between calls: $rows")
        val sum = if (rs.size == 1) rs.head.sum.toString else "-"
        ctx.record.get.println(s"query\t$name\t${rows.head}\t$sum")
      }
    }
    if (!ctx.trace.on) Seq(
      "setup_s" -> setupS,
      "op_s" -> Main.median(passes),
      "step_p50_s" -> Main.quantile(walls.toSeq, 0.5),
      "step_p90_s" -> Main.quantile(walls.toSeq, 0.9))
    else layers.flatten.groupBy(_._1).map { case (k, v) => k -> Main.mean(v.map(_._2)) }
      .toSeq :+ ("trace.overhead_s" -> overhead)
  }
}
