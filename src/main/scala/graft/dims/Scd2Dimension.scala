package graft.dims

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{LoadTracker, RunLog, StagedWrite}
import graft.schema.Tables

/** A parameterized SCD2 dimension load — the generic form of the
  * reference's three per-dim stored procedures `etl_load_dimcustomer` /
  * `etl_load_dimsalesperson` / `etl_load_dimproduct` (SQL:915-1326),
  * which are copy-pastes of one pattern with different keys/attrs.
  *
  * Each run:
  *   1. reads the data watermark (driver-side scalar, SURVEY §2.C10)
  *   2. pulls the delta from the change feed (`history` filtered to
  *      rows newer than the watermark — predicate pushed to the scan)
  *   3. recomputes the SCD2 derivation for the TOUCHED natural keys
  *      only (delta keys ∪ delete-detected keys, scoped by semi/anti
  *      joins); untouched rows pass through byte-identical. At 100 TB
  *      a 0.1% delta shuffles 0.1% of the dim, not all of it.
  *   4. assigns surrogate keys STABLY: rows whose version identity
  *      (nk, active_from, tiebreak) already exists keep their SK; new
  *      versions get max(SK)+rank — the reference's append-only
  *      IDENTITY behavior (SQL:317). A global renumber would shift SKs
  *      under previously-loaded fact rows and dangle their references.
  *   5. detects deletes against the current source snapshot
  *      (reference SQL:974-988) and closes those versions out
  *   6. publishes via staged swap, advances the watermark only if the
  *      delta was non-empty (SQL:643-651), appends a run-log row.
  *      An empty delta with no deletes skips the write entirely.
  *
  * Resurrection note: if a deleted key later reappears in the feed,
  * the recompute reopens its interval chain from the recorded change
  * history; the wall-clock close-out timestamp is not preserved
  * (matches the pure-derivation semantics, SURVEY §2.I3).
  *
  * @param name      dimension name (warehouse table + tracker key)
  * @param nk        natural key column in the change feed
  * @param changeTs  change timestamp column in the change feed
  * @param tracked   attribute columns versioned by the dimension
  * @param tiebreak  deterministic ordering tiebreak columns
  */
final class Scd2Dimension(name: String, nk: String, changeTs: String,
                          tracked: Seq[String], tiebreak: Seq[String] = Nil) {

  private val skCol = s"${name}_id"
  require(skCol != nk && !tracked.contains(skCol) && !tiebreak.contains(skCol),
    s"surrogate column $skCol collides with a feed column; rename the dimension")
  /** Version identity = SK reuse key AND surrogate assignment order. */
  private def identityCols = Seq(nk, "active_from") ++ tiebreak

  private def derive(history: DataFrame): DataFrame =
    Scd2.deriveVersions(
      Scd2.dropNoOpChanges(
        history.dropDuplicates(Seq(nk, changeTs) ++ tiebreak),
        nk, changeTs, tracked, tiebreak),
      nk, changeTs, tiebreak)

  /** Incremental (and first-time) load. `changeFeed` is the full
    * watermark-filterable history source; `snapshotKeys` the current
    * live natural keys (None disables delete detection). Returns the
    * number of delta rows consumed.
    *
    * `preValidate = true` runs the SCD2 invariants against the
    * candidate frame BEFORE the staged publish
    * ([[graft.checks.Checks.prePublishDim]]): a violating candidate
    * aborts the run with the table, watermark, and success log all
    * untouched (the reference author's production note, SQL:1622).
    *
    * Run-log counts mirror the reference's per-phase @@ROWCOUNTs
    * (SQL:1011-1023): rows_inserted = delta rows consumed,
    * rows_updated = previously-current versions closed out by a newer
    * version this run, rows_deleted = current versions closed out by
    * delete detection. The update/delete counts are extra actions
    * scoped to the touched keys (small by design), never the full
    * dimension. */
  def load(spark: SparkSession, changeFeed: DataFrame,
           snapshotKeys: Option[DataFrame], dimPath: String,
           tracker: LoadTracker, log: RunLog,
           preValidate: Boolean = false): Long = {
    val started = new Timestamp(System.currentTimeMillis())
    try {
      StagedWrite.recover(spark, dimPath) // heal any crashed publish first
      val wm = tracker.watermark(name)
      // 2. delta: watermark filter is a literal -> parquet pushdown
      val delta = changeFeed.filter(col(changeTs) > lit(wm))
      val attrs = (Seq(nk) ++ tracked ++ Seq(changeTs) ++ tiebreak).distinct
      val deltaRows = delta.select(attrs.map(col): _*)
      // One metadata scan BEFORE any other action: a non-snapshot feed
      // can gain rows between actions, and the watermark must never
      // advance past rows that weren't incorporated. Rows arriving
      // after this scan may still land in the write — they are simply
      // re-read next run and deduped by version identity (J38).
      val stats = delta.agg(count(lit(1)), max(col(changeTs))).first()
      val inserted = stats.getLong(0)
      val dataWm =
        if (inserted == 0L) None
        else Option(stats.getAs[LocalDateTime](1))

      // third element: the touched-NK scope for the pre-publish gate
      // (None = initial load, everything is new → validate all)
      val keyed: Option[(DataFrame, Long, Option[DataFrame])] =
        if (!StagedWrite.exists(spark, dimPath))
          Some((Scd2.withSurrogate(derive(deltaRows), skCol, identityCols),
            0L, None))
        // no-op rerun with no snapshot to diff against: nothing can be
        // touched, so neither the dimension nor the feed is scanned
        else if (inserted == 0L && snapshotKeys.isEmpty) None
        else {
          val dim = Tables.read(spark, dimPath)
          // an empty delta contributes no keys and no rows, so it is
          // not scanned again; rows landing after the stats scan are
          // re-read next run (J38)
          val newRows = if (inserted == 0L) deltaRows.limit(0) else deltaRows
          // 3. recompute scope: keys with new versions or deletions
          val deltaKeys = newRows.select(col(nk)).distinct()
          val goneKeys = snapshotKeys match {
            // no distinct on either side: `touched` dedups once below
            case Some(snap) => dim.filter(col("is_current") === 1L)
              .select(col(nk))
              .join(snap.select(col(nk)), Seq(nk), "left_anti")
            case None => deltaKeys.limit(0)
          }
          val touched = deltaKeys.unionByName(goneKeys).distinct()
          if (touched.isEmpty) None // no-op rerun: leave the table alone
          else {
            val untouched = dim.join(touched, Seq(nk), "left_anti")
            val touchedHistory = dim.select(attrs.map(col): _*)
              .join(touched, Seq(nk), "left_semi")
              .unionByName(newRows)
            val recomputed = derive(touchedHistory)
            // 4. stable surrogates: reuse by version identity,
            // append new versions after the existing max
            val prevSk = dim.select(
              (identityCols.map(col) :+ col(skCol).as("__prev_sk")): _*)
            val maxSk = Option(dim.agg(max(col(skCol))).first().get(0))
              .map(_.asInstanceOf[Long]).getOrElse(0L)
            val withPrev = recomputed.join(prevSk, identityCols, "left")
            val kept = withPrev.filter(col("__prev_sk").isNotNull)
              .withColumn(skCol, col("__prev_sk")).drop("__prev_sk")
            val fresh = Scd2.withSurrogate(
              withPrev.filter(col("__prev_sk").isNull).drop("__prev_sk"),
              skCol, identityCols, offset = maxSk)
            // rows_updated: versions current before this run that the
            // recompute closed out — the reference's UPDATE-phase
            // @@ROWCOUNT (SQL:1011-1017). Touched-key scope only.
            val prevCurrent = dim.filter(col("is_current") === 1L)
              .join(touched, Seq(nk), "left_semi")
              .select(identityCols.map(col): _*)
            val updated = recomputed.filter(col("is_current") === 0L)
              .select(identityCols.map(col): _*)
              .join(prevCurrent, identityCols, "left_semi")
              .count()
            // delete-detection closes only current keys absent from the
            // snapshot, and those are all in `touched` (goneKeys ⊆ it),
            // so `touched` is the complete rewrite scope for the gate
            Some((untouched.unionByName(kept.unionByName(fresh)), updated,
              Some(touched)))
          }
        }

      keyed match {
        case None =>
          tracker.advance(name, None)
          log.append(s"etl_load_$name", started, 0L, 0L, 0L,
            RunLog.Success, None)
          0L
        case Some((k, updated, touchedScope)) =>
          // 5. delete detection: close out vanished keys "as of now"
          val (withDeletes, deleted) = snapshotKeys match {
            case Some(snap) =>
              val gone = Scd2.deletedKeys(
                k.filter(col("is_current") === 1L), snap, nk)
                .select(col(nk)).distinct()
              // rows_deleted: one current version closes per vanished
              // key — the reference's delete-detect UPDATE @@ROWCOUNT
              // (SQL:1018-1023); the count is over the (small) gone-key
              // set, not the dimension
              val nGone = gone.count()
              val closeTs = lit(LocalDateTime.now())
              val closed =
                k.join(gone.withColumn("__gone", lit(1)), Seq(nk), "left")
                  .withColumn("active_to",
                    when(col("__gone") === 1 && col("is_current") === 1L,
                      closeTs).otherwise(col("active_to")))
                  .withColumn("is_current",
                    when(col("__gone") === 1, 0L).otherwise(col("is_current")))
                  .drop("__gone")
              (closed, nGone)
            case None => (k, 0L)
          }

          // 6. gate (optional), publish, advance watermark, log
          if (preValidate)
            graft.checks.Checks.prePublishDim(withDeletes, nk,
              tiebreak.map(col), touchedScope)
          StagedWrite.overwrite(withDeletes, dimPath)
          tracker.advance(name, dataWm)
          log.append(s"etl_load_$name", started, inserted, updated, deleted,
            RunLog.Success, None)
          inserted
      }
    } catch {
      case e: Throwable =>
        log.append(s"etl_load_$name", started, 0L, 0L, 0L, RunLog.Fail,
          Some(String.valueOf(e.getMessage)))
        throw e
    }
  }
}
