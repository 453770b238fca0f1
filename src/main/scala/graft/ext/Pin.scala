package graft.ext

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The repo's single choke-point for "pin this intermediate" — the
  * load-bearing materializations (one shared boundary draw for the
  * two-phase ranks, one evaluation of a multiply-consumed edge set)
  * all route through here, so the STORAGE POSTURE is a runtime dial
  * instead of a hard-coded `localCheckpoint()` at every site.
  *
  * `spark.graft.pin.storage`:
  *  - `"memory_and_disk"` (default) — plain `localCheckpoint()`:
  *    deserialized rows in the JVM heap, spilling to disk. Fastest
  *    re-reads; on a 1000-executor cluster each executor holds only
  *    its slice, so heap pressure is a non-issue.
  *  - `"disk_only"` — `localCheckpoint(eager, DISK_ONLY)`: rows
  *    serialize straight to local disk and the heap retains NOTHING.
  *    This is the local[32]/single-JVM posture for the ×30-scale
  *    runs SCALE.md §30/§31 diagnosed: the checkpointed 18M-row
  *    snapshots were driving GC, not compute — trading re-read
  *    deserialization for a quiet heap. Semantics are identical
  *    (still one eager materialization, one boundary draw).
  *
  * Both modes keep localCheckpoint's contract that makes the rank
  * machinery exact: EAGER materialization, so every downstream
  * consumer reads the same computed partitions (same
  * RangePartitioner draw) instead of re-evaluating lineage.
  */
object Pin {
  val ConfKey = "spark.graft.pin.storage"

  private val dumpSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Names this JVM's dumps, so a later run writing to the same
    * directory cannot overwrite an earlier run's evidence. */
  private lazy val dumpRun: String =
    f"${System.currentTimeMillis()}%x-${ProcessHandle.current().pid()}"

  /** Opt-in plan-evidence hook (round 13): when
    * `SPARK_GRAFT_PIN_EXPLAIN_DIR` names a directory, every pin
    * writes the formatted plan of the relation it is about to
    * materialize there as `pin_<run>_NNNN.txt`, `<run>` naming the
    * JVM (clock at its first dump, hex, and pid). This is the only window
    * onto the iterating families' MID-LOOP round plans — each
    * round's expansion join is planned and executed inside the loop
    * and hides behind its checkpoint in the declared query's final
    * plan, so `ExplainDump` can never show whether the cached
    * adjacency side actually joins exchange-free. Off by default;
    * one env read per pin when unset. A dump that fails (say, an
    * unwritable directory) is reported on stderr and skipped: the
    * hook never fails the pin it observes. */
  private def dumpPlan(df: DataFrame): DataFrame = {
    sys.env.get("SPARK_GRAFT_PIN_EXPLAIN_DIR").foreach(dumpPlanTo(df, _))
    df
  }

  /** Writes `df`'s formatted plan into `dir`; the file written, or
    * None when the dump failed. */
  private[graft] def dumpPlanTo(df: DataFrame, dir: String): Option[java.io.File] = {
    val f = new java.io.File(dir,
      f"pin_${dumpRun}_${dumpSeq.getAndIncrement()}%04d.txt")
    try {
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      finally w.close()
      Some(f)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[pin] plan dump $f skipped: $e")
        None
    }
  }

  def pin(df0: DataFrame): DataFrame = {
    val df = dumpPlan(df0)
    df.sparkSession.conf.getOption(ConfKey).map(_.toLowerCase) match {
      case Some("disk_only") =>
        df.localCheckpoint(eager = true, StorageLevel.DISK_ONLY)
      case _ => df.localCheckpoint()
    }
  }

  /** Pin a DETERMINISTIC relation so that its hash partitioning and
    * per-partition sort order SURVIVE into every consumer's plan —
    * the round-12 optimization-round discovery (guide §2.4, "remove
    * shuffles outright"): `localCheckpoint` erases partitioning
    * (`LogicalRDD` reports `UnknownPartitioning`), so every
    * per-round join in the iterating graph families re-exchanged
    * the FULL adjacency every round. An eager `persist` keeps the
    * logical plan, and `InMemoryTableScan` reports the cached
    * plan's `outputPartitioning`/`outputOrdering` — so a join or
    * groupBy keyed on `keys` runs with ZERO exchange and ZERO sort
    * on the pinned side, every round (measured: the probe plan
    * shows SortMergeJoin directly over InMemoryTableScan).
    *
    * Same eager one-evaluation contract as [[pin]] (the `count()`
    * materializes every partition before any consumer plans against
    * it). ONLY for deterministically-derived relations: persist
    * keeps lineage, so an evicted partition is recomputed — fine
    * for hash-repartitioned derivations, wrong for anything seeded
    * by a nondeterministic draw (those stay on [[pin]]'s
    * lineage-cutting checkpoint). Honors the same storage dial. */
  def pinByKey(df: DataFrame,
               keys: org.apache.spark.sql.Column*): DataFrame =
    pinByKeyN(df, df.sparkSession.sessionState.conf.numShufflePartitions,
      keys: _*)

  /** [[pinByKey]] at an explicit width — for pair-expansion inputs
    * whose consumer stage AMPLIFIES rows (a wedge join emits
    * Σ deg²/2 rows from Σ deg inputs): the consumer's partial-agg
    * hash state is amplification-sized, so the stage width must
    * scale with the amplification, not the input bytes, or the agg
    * spills (measured: link_predict's wedge stage spilled 810 MB at
    * width 32 and zero at width 128 — guide §5). */
  def pinByKeyN(df0: DataFrame, numPartitions: Int,
                keys: org.apache.spark.sql.Column*): DataFrame = {
    val df = dumpPlan(df0)
    // no-cross-run-cache tripwire: persist matches by canonicalized
    // plan, so a pinned subtree built PURELY from source scans would
    // be silently served from cache on a bench's second timed run —
    // exactly the cross-run memoization the driver contract bans.
    // Every caller must sit above a lineage-unique leaf (a [[pin]]
    // checkpoint produces a fresh RDD per run, so plans never match
    // across runs). Fail loudly instead of quietly reusing.
    require(df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      // literal in-memory relations (tests, VALUES) carry their data
      // in the plan itself — a cache hit re-serves the same literals,
      // so there is no file re-read being skipped
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case _ => false
    },
      "pinByKey requires a checkpointed (lineage-unique) input below " +
        "it; pinning a pure-source derivation would let a cached plan " +
        "serve a later run without recomputing")
    val level =
      df.sparkSession.conf.getOption(ConfKey).map(_.toLowerCase) match {
        case Some("disk_only") => StorageLevel.DISK_ONLY
        case _ => StorageLevel.MEMORY_AND_DISK
      }
    val p = df.repartition(numPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .persist(level)
    p.count()
    p
  }

  /** [[pin]] UNLESS `df` already sits shallowly on a checkpoint/local
    * leaf — i.e. only narrow ops (project/filter/alias) above a
    * LogicalRDD or LocalRelation, so re-evaluation is a cheap scan
    * and a second checkpoint would only copy rows AND fork the
    * lineage (forked lineage = derived pinByKey caches that can no
    * longer dedup through the CacheManager; see
    * graph_walks_biased_extended / clustering_coeff, round 13).
    * "Shallow" matters: merely containing a checkpoint somewhere
    * below (coEdges pins its guarded front under the quadratic pair
    * join) must still pin, or the expensive derivation re-runs per
    * consumer. */
  def ensure(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def shallow(p: LogicalPlan): Boolean = p match {
      case pr: Project => shallow(pr.child)
      case f: Filter => shallow(f.child)
      case s: SubqueryAlias => shallow(s.child)
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: LocalRelation => true
      case _ => false
    }
    if (shallow(df.queryExecution.analyzed)) df else pin(df)
  }

  /** Release every relation [[pinByKey]]/[[pinByKeyN]] registered in
    * the session's CacheManager — the lifecycle hook a long-lived
    * caller (a day-2 service, a REPL) must invoke between logical
    * units of work (ADVICE r12: the pins are strong CacheManager
    * refs, so neither periodicGC nor the ContextCleaner can reclaim
    * them; without this every graph/walk/link-predict call leaks a
    * MEMORY_AND_DISK cache entry for the session lifetime). The
    * bench harnesses (Bench, BenchQuiet, GraphDial's timeIt) already
    * apply this per trial — it is also their anti-gaming discipline:
    * clearing between runs forces every timed window to pay its own
    * cache build. Queries in flight recompute from lineage (persist
    * keeps it), so this is always safe, only ever a perf trade. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()
}
