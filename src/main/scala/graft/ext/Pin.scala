package graft.ext

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.KeyedCheckpoint

/** The one place `src/main` materializes an intermediate. Every pin is
  * an eager `localCheckpoint`: rows in the executors' block stores
  * (memory, spilling to disk), lineage cut, computed exactly once — the
  * contract that makes the rank machinery exact, because every
  * downstream consumer reads the same computed partitions (same
  * RangePartitioner draw) instead of re-evaluating lineage. Nothing is
  * registered in the CacheManager, so no query can be served a pin an
  * earlier one built; the blocks go when the ContextCleaner collects
  * the pinned relation.
  *
  * Two forms: the plain [[pin]], and the keyed [[pin]], which lays the
  * rows out hash-partitioned and sorted on its keys and keeps that
  * layout visible to the planner.
  */
object Pin {
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
    * plan, so `ExplainDump` can never show whether the pinned
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

  def pin(df0: DataFrame): DataFrame = dumpPlan(df0).localCheckpoint()

  /** Pin `df` hash-partitioned on `keys` at `widthMult` × the session
    * shuffle width and sorted on `keys` within each partition, with
    * that layout visible to the planner ([[KeyedCheckpoint]]): a join
    * or groupBy keyed on `keys` over the result plans no exchange and
    * no sort on this side. The iterating graph families pin their
    * loop-invariant relations (adjacency lists, edge lookups) and round
    * inputs this way, so each round's join exchanges only its frontier.
    *
    * The explicit width is exempt from AQE's coalescing: byte-light,
    * CPU-heavy round relations would otherwise fold to ONE task and
    * serialize every round's expansion join (SCALE.md §43/§47); the
    * pin fails through [[assertSpread]] if that ever happens anyway.
    * A `widthMult` above 1 is for inputs whose consumer AMPLIFIES rows
    * (a wedge join emits Σ deg²/2 rows from Σ deg inputs): the
    * consumer's partial-agg state is amplification-sized, and a
    * narrower stage spills (link_predict's wedge stage spilled 810 MB
    * at width 32 and nothing at width 128). */
  def pin(df: DataFrame, tag: String, keys: Seq[Column],
          widthMult: Int = 1): DataFrame = {
    val width =
      widthMult * df.sparkSession.sessionState.conf.numShufflePartitions
    val laid = df.repartition(width, keys: _*).sortWithinPartitions(keys: _*)
    assertSpread(KeyedCheckpoint.withFinalLayout(laid, pin(laid)), tag)
  }

  /** The discipline check of the keyed [[pin]]: a pinned round relation
    * must carry more than one partition whenever the session is
    * parallel at all. */
  private[graft] def assertSpread(pinned: DataFrame,
                                  tag: String): DataFrame = {
    val want =
      pinned.sparkSession.sessionState.conf.numShufflePartitions
    val got = pinned.rdd.getNumPartitions
    require(want <= 1 || got > 1,
      s"[$tag] iterating-round input landed on $got partition(s) " +
        s"with numShufflePartitions=$want — the AQE single-task trap " +
        "(SCALE.md §43/§47); a spread was dropped or rewritten")
    pinned
  }

  /** [[pin]] UNLESS `df` already sits shallowly on a checkpoint/local
    * leaf — i.e. only narrow ops (project/filter/alias) above a
    * LogicalRDD or LocalRelation, so re-evaluation is a cheap scan
    * and a second checkpoint would only copy the rows again.
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
}
