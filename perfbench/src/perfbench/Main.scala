package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftConf

/** Run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val seconds: Double, val cores: Int, val work: String,
                val expected: Expected, val record: Option[java.io.PrintWriter]) {
  var attempted = 0
  var failed = 0

  /** Count one call into the program; `ok` is false when it threw or
    * its output did not match. */
  def call(name: String, ok: Boolean, why: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] FAILED $name: $why")
    }
  }

  def clearCache(): Unit = spark.sharedState.cacheManager.clearCache()

  /** JVM uptime: process start to now, seconds. */
  def uptime: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

/** Expected outputs kept with the benchmark (`expected.tsv`): one line
  * per checked output, `kind name rows sum`, where sum is `-` for an
  * output whose row count alone is checked. */
final class Expected(path: String) {
  private val rows: Map[(String, String), (Long, Option[Long])] =
    if (!new java.io.File(path).exists) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(kind, name, n, s) = l.split("\t")
        (kind, name) -> (n.toLong, if (s == "-") None else Some(s.toLong))
      }.toMap

  /** None when the output matches, else why it does not. */
  def mismatch(kind: String, name: String, got: Digest.Result): Option[String] =
    rows.get((kind, name)) match {
      case None => Some(s"no expected value for $kind $name")
      case Some((n, s)) =>
        if (n != got.rows) Some(s"rows ${got.rows} != expected $n")
        else if (s.exists(_ != got.sum)) Some(s"checksum ${got.sum} != expected ${s.get}")
        else None
    }
}

object Main {
  /** Every metric a traced run reports; workloads fill the ones that
    * apply to them and the rest read 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "queries.construct_s" -> "s", "queries.construct_jobs" -> "count",
    "queries.action_s" -> "s", "queries.jobs_per_query" -> "count",
    "spark.jobs" -> "count", "spark.driver_gap_s" -> "s",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s", "spark.core_util" -> "ratio",
    "spark.shuffle_read_mb" -> "MiB", "spark.shuffle_write_mb" -> "MiB",
    "spark.spill_mb" -> "MiB", "spark.input_mb" -> "MiB",
    "spark.failed_tasks" -> "count",
    "pin.blocks" -> "count", "pin.stored_mb" -> "MiB",
    "pin.storage_mb_peak" -> "MiB",
    "etl_build_s" -> "s", "etl_noop_s" -> "s") ++
    Etl.Phases.flatMap(p => (Etl.Tables.map(t => s"etl.$p.${t}_s" -> "s") :+
      (s"etl.$p.unlogged_s" -> "s"))) ++ Seq(
    "etl.build.fact_rows_per_s" -> "rows/s", "etl.noop.ms_per_table" -> "ms",
    "etl.warehouse_mb" -> "MiB",
    "etl.stored_bytes_per_input_byte" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.gc_count" -> "count", "jvm.heap_peak_mb" -> "MiB",
    "host.cpu_s" -> "s", "host.shuffle_s" -> "s", "trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val work = a("work")
    val spark = GraftConf.applyBase(
        SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp/spark")
      .config("spark.sql.warehouse.dir", s"$work/tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(spark, a("trace") == "1")
    val record = a.get("record").map(p => new java.io.PrintWriter(p, "UTF-8"))
    val ctx = new Ctx(spark, trace, a("seed").toLong, a("seconds").toDouble,
      cores, work, new Expected(a("expected")), record)
    val metrics = try {
      val m = workload match {
        case "etl_warehouse" => Etl.run(ctx)
        case "query_mix" => QueryMix.run(ctx)
        // the build's training run for the class-data-sharing archive:
        // a warmup pass and one timed pass load the classes a run needs
        case "train" => QueryMix.run(ctx, lightWarmups = 0, minPasses = 1)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (trace.on) {
        val (cpu, shuffle) = trace.span("host.ruler")(Trace.hostRuler(spark))
        trace.write(s"${a("traces")}/$workload-seed${ctx.seed}.jsonl")
        m ++ Seq("host.cpu_s" -> cpu, "host.shuffle_s" -> shuffle)
      } else m
    } finally {
      record.foreach(_.close())
      spark.stop()
    }
    val units: Map[String, String] =
      if (trace.on) PerLayer.toMap else metrics.map(_._1 -> "s").toMap
    val values = metrics.toMap
    val names = if (trace.on) PerLayer.map(_._1) else metrics.map(_._1)
    val body = names.map { n =>
      s""""$n": {"value": ${json(values.getOrElse(n, 0.0))}, "unit": "${units(n)}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  /** Linear-interpolated percentile, p in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Harrell-Davis estimate of the p-quantile, p in (0, 1): the mean of
    * all order statistics weighted by Beta(p(n+1), (1-p)(n+1)) over
    * their rank intervals. A run yields few steps, in clusters (the
    * graph queries of `query_mix` are 4 of 22), so the one or two order
    * statistics a plain percentile reads scatter from run to run; this
    * estimate reads them all, and its p90 scattered about half as much
    * over the same runs. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) s.headOption.getOrElse(0.0)
    else {
      val a = p * (n + 1)
      val b = (1 - p) * (n + 1)
      val cells = 256 // midpoint-rule cells per rank interval
      val logPdf = Array.tabulate(n * cells) { j =>
        val x = (j + 0.5) / (n * cells)
        (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
      }
      val top = logPdf.max
      val w = Array.tabulate(n)(i =>
        (i * cells until (i + 1) * cells).map(j => math.exp(logPdf(j) - top)).sum)
      s.indices.map(i => s(i) * w(i)).sum / w.sum
    }
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Run ops until `seconds` have passed and at least `minOps` ran;
    * `op` returns its own timed wall. Returns the walls and, for a
    * traced run, the time per op the benchmark's main thread spent in
    * tracing calls. */
  def loop(ctx: Ctx, minOps: Int)(op: Int => Double): (Seq[Double], Double) = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val self0 = ctx.trace.selfNs
    val t0 = System.nanoTime()
    do {
      ctx.trace.op = walls.size + 1
      walls += op(walls.size)
    } while (walls.size < minOps || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
    (walls.toSeq, (ctx.trace.selfNs - self0) / 1e9 / walls.size)
  }
}
