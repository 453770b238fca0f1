package graft.meta

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.parquet.FooterStats
import org.apache.spark.sql.functions._

import graft.checks.Checks

/** The load transaction every warehouse table shares — the one pattern
  * the reference's four load procedures copy (SQL:915-1538): `BEGIN
  * TRAN`, the delta past the watermark, the write, the tracker advance,
  * the log row, and `ROLLBACK` plus a FAIL row on error; with the
  * author's production note that checks "should be in the pipeline and
  * stop each stage on error" (SQL:1622). A loader supplies only its
  * plan: [[graft.dims.Scd2Dimension]] the touched-key SCD2 recompute,
  * [[graft.facts.FactLoader]] the contested-key keep-latest.
  *
  * A run:
  *   1. heals any crashed publish of the target ([[StagedWrite.recover]]),
  *      before the plan reads it;
  *   2. filters the source past the table's data watermark, a driver
  *      literal, so the scan prunes on push-down;
  *   3. observes the delta FIRST, before any other read of the
  *      source: a non-snapshot source can gain rows between reads, and
  *      the watermark must never advance past rows that were not
  *      incorporated. Later arrivals are re-read next run and deduped
  *      by the plan (version identity, keep-latest). The observation
  *      is the footer listing when it proves the delta empty
  *      ([[provenEmpty]]): it reads the files of the source's own
  *      listing, the ones every later scan of the delta reads, and
  *      counts 0 rows with no max, so only the clock advances and a
  *      no-op rerun runs no stats job. Otherwise it is the delta's
  *      `count`/`max(ts)` action;
  *   4. asks the plan for a [[Candidate]]. None is the no-op: only the
  *      execution clock advances, the log row carries zeros and nothing
  *      is written;
  *   5. gates the candidate ([[gate]]): a violation throws before the
  *      publish, so the table, the watermark and the success log stay
  *      untouched;
  *   6. publishes via [[StagedWrite.overwrite]], advances the watermark
  *      to the delta's max (only the clock when the delta was empty,
  *      SQL:643-651) and appends the SUCCESS row.
  *
  * Any throw appends a FAIL row with its message and is rethrown. */
object LoadTransaction {

  /** A plan's result: the whole candidate table, the natural keys the
    * plan rewrote (None = all of them, the initial load) and the
    * run-log counts of versions closed by an update and by a delete. */
  final case class Candidate(table: DataFrame, touched: Option[DataFrame],
                             updated: Long, deleted: Long)

  /** One load of warehouse `table` (also its tracker key and run-log
    * name `etl_load_<table>`) at `target`. `source` carries the change
    * timestamp column `ts`; `plan` gets the delta and its row count,
    * which is the run's `rows_inserted`; `nk` and `sweep` are the
    * [[gate]]'s. Returns that count, 0 on a no-op. */
  def run(spark: SparkSession, table: String, target: String,
          tracker: LoadTracker, log: RunLog, source: DataFrame, ts: String,
          nk: String, sweep: DataFrame => Map[String, Long])
         (plan: (DataFrame, Long) => Option[Candidate]): Long = {
    val started = new Timestamp(System.currentTimeMillis())
    def logRow(inserted: Long, updated: Long, deleted: Long, status: String,
               error: Option[String]): Unit =
      log.append(s"etl_load_$table", started, inserted, updated, deleted, status, error)
    try {
      StagedWrite.recover(spark, target)
      val wm = tracker.watermark(table)
      val delta = source.filter(col(ts) > lit(wm))
      // an empty delta's max is NULL: only the clock moves
      val (inserted, deltaMax) =
        if (provenEmpty(source, delta, ts, wm)) (0L, None)
        else {
          val stats = delta.agg(count(lit(1)), max(col(ts))).first()
          (stats.getLong(0), Option(stats.getAs[LocalDateTime](1)))
        }
      plan(delta, inserted) match {
        case None =>
          tracker.advance(table, None)
          logRow(0L, 0L, 0L, RunLog.Success, None)
          0L
        case Some(c) =>
          gate(c.table, nk, c.touched, sweep)
          StagedWrite.overwrite(c.table, target)
          tracker.advance(table, deltaMax)
          logRow(inserted, c.updated, c.deleted, RunLog.Success, None)
          inserted
      }
    } catch {
      case e: Throwable =>
        logRow(0L, 0L, 0L, RunLog.Fail, Some(String.valueOf(e.getMessage)))
        throw e
    }
  }

  /** Whether `delta` (`source` past watermark `wm` on `ts`) is empty,
    * proven with no Spark job: the optimizer has already reduced it to
    * an empty `LocalRelation` (a snapshot dim, whose `ts` is a
    * literal), or the parquet footers of `source`'s files bound `ts`
    * at or below `wm` ([[FooterStats.upperBound]], the listing the
    * delta's scan reads). False whenever either is in doubt. */
  private def provenEmpty(source: DataFrame, delta: DataFrame, ts: String,
                          wm: LocalDateTime): Boolean =
    FooterStats.upperBound(source, ts).exists(!_.isAfter(wm)) ||
      (delta.queryExecution.optimizedPlan match {
        case l: LocalRelation => l.data.isEmpty
        case _ => false
      })

  /** The pre-publish gate: the loader's Stage-5 `sweep` as one action
    * over the candidate rows whose `nk` is in `touched` (all rows when
    * None), throwing [[graft.checks.CheckViolation]] on a nonzero
    * count. Rows of untouched keys pass through a load byte-identical
    * and were gated when they were published, and every checked
    * invariant is per key, so a violation this load makes lies among
    * the touched keys: the gate costs the delta, not the table.
    * Out-of-band corruption of untouched keys is the post-publish
    * sweep's to report. */
  def gate(candidate: DataFrame, nk: String, touched: Option[DataFrame],
           sweep: DataFrame => Map[String, Long]): Unit =
    Checks.enforce(sweep(touched.fold(candidate)(candidate.join(_, Seq(nk), "left_semi"))))
}
