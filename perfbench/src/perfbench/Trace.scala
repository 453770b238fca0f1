package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Engine counters from Spark listener events. Cumulative; read them
  * with [[Trace.snapshot]] after the bus has drained. */
final class EngineListener extends SparkListener {
  var jobs, stages, tasks, failedTasks = 0L
  var taskBusyMs, shuffleRead, shuffleWrite, spill, input = 0L
  var pinBlocks, pinStored = 0L
  var storageNow, storagePeak = 0L
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  /** (start ms, end ms) of every finished job */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskBusyMs += m.executorRunTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      storageNow -= rddBlocks.remove(id).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        pinBlocks += 1
        pinStored += size
        rddBlocks(id) = size
        storageNow += size
        storagePeak = math.max(storagePeak, storageNow)
      }
    }
  }
  def resetPeak(): Unit = synchronized { storagePeak = storageNow }
}

/** Counters at one instant: engine, JVM and wall clock. */
final case class Snap(wallNs: Long, wallMs: Long, jobs: Long, stages: Long,
    tasks: Long, failedTasks: Long, taskBusyMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, input: Long, pinBlocks: Long,
    pinStored: Long, gcMs: Long, gcCount: Long)

/** One timed call into a layer. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** Tracing for a `--trace 1` run: spans at each layer call made from
  * the benchmark's code, engine counters from a registered listener,
  * and JVM MXBeans. Spans stay in memory and are written once, by
  * [[write]]. With `on = false` no listener is registered and [[span]]
  * only runs its body. */
final class Trace(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  val engine = new EngineListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  var op = 0
  /** main-thread time spent in [[snapshot]], the tracing cost on the
    * critical path of an op */
  var selfNs = 0L
  if (on) sc.addSparkListener(engine)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def snapshot(): Snap = {
    val t0 = System.nanoTime()
    if (on) PerfbenchBus.drain(sc)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val e = engine
    val s = e.synchronized {
      Snap(System.nanoTime(), System.currentTimeMillis(), e.jobs, e.stages,
        e.tasks, e.failedTasks, e.taskBusyMs, e.shuffleRead, e.shuffleWrite,
        e.spill, e.input, e.pinBlocks, e.pinStored,
        gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
    }
    selfNs += System.nanoTime() - t0
    s
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Start of an op: reset the heap and storage peaks. */
  def opStart(): Snap = {
    heapPools.foreach(_.resetPeakUsage())
    engine.resetPeak()
    snapshot()
  }

  /** Heap peak since [[opStart]], MiB: the sum of the per-pool peaks of
    * the pools that hold what survived a young collection and the large
    * arrays allocated straight into the old generation. Eden is left
    * out: with the heap fixed at its maximum its peak is only the size
    * the collector gave it. */
  def heapPeakMb: Double =
    heapPools.filterNot(_.getName.contains("Eden")).map(_.getPeakUsage.getUsed).sum / Trace.Mb

  /** Wall of [from, to] not covered by any Spark job, seconds. */
  def driverGap(from: Snap, to: Snap): Double = {
    val ivs = engine.synchronized {
      engine.jobIntervals.toSeq.map { case (s, e) =>
        (math.max(s, from.wallMs), math.min(e, to.wallMs)) }
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    ((to.wallMs - from.wallMs) - covered) / 1000.0
  }

  /** Write the spans as JSON lines, once, at the end of the run. */
  def write(path: String): Unit = if (spans.nonEmpty) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Trace {
  val Mb: Double = 1024.0 * 1024.0

  /** The engine's per-op counters between two snapshots. */
  def engineMetrics(t: Trace, a: Snap, b: Snap, cores: Int): Seq[(String, Double)] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val busy = (b.taskBusyMs - a.taskBusyMs) / 1000.0
    Seq(
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.driver_gap_s" -> t.driverGap(a, b),
      "spark.stages" -> (b.stages - a.stages).toDouble,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.task_busy_s" -> busy,
      "spark.core_util" -> (if (wall > 0) busy / (wall * cores) else 0.0),
      "spark.shuffle_read_mb" -> (b.shuffleRead - a.shuffleRead) / Mb,
      "spark.shuffle_write_mb" -> (b.shuffleWrite - a.shuffleWrite) / Mb,
      "spark.spill_mb" -> (b.spill - a.spill) / Mb,
      "spark.input_mb" -> (b.input - a.input) / Mb,
      "spark.failed_tasks" -> (b.failedTasks - a.failedTasks).toDouble,
      "pin.blocks" -> (b.pinBlocks - a.pinBlocks).toDouble,
      "pin.stored_mb" -> (b.pinStored - a.pinStored) / Mb,
      "jvm.gc_s" -> (b.gcMs - a.gcMs) / 1000.0,
      "jvm.gc_count" -> (b.gcCount - a.gcCount).toDouble)
  }

  /** Host ruler: the two legs of the program's `HostRuler` (a
    * decimal-sum aggregation over `spark.range`, and a two-exchange
    * aggregate join), at 1/40 and 1/8 of its row counts so that a
    * traced run stays inside its time budget. Min of 3 after a warmup,
    * seconds. */
  def hostRuler(spark: SparkSession): (Double, Double) = {
    def timeMin(body: => Unit): Double = {
      body
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
    }
    val cpu = timeMin {
      spark.range(0L, 10000000L)
        .select(sum((col("id") % 1000007L).cast("decimal(38,0)") *
          (col("id") % 999983L)).as("s"))
        .collect()
    }
    val shuffle = timeMin {
      val left = spark.range(0L, 1000000L)
        .select((col("id") % 62500L).as("k"), col("id").as("v"))
      val right = spark.range(0L, 250000L)
        .select((col("id") % 62500L).as("k"), (col("id") * 7L).as("w"))
      left.groupBy("k").agg(sum("v").as("sv"))
        .join(right.groupBy("k").agg(sum("w").as("sw")), "k")
        .select(sum(col("sv") + col("sw")))
        .collect()
    }
    (cpu, shuffle)
  }
}
