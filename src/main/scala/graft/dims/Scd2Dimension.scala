package graft.dims

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.Checks
import graft.meta.{LoadTracker, LoadTransaction, RunLog, StagedWrite}
import graft.meta.LoadTransaction.Candidate
import graft.schema.Tables

/** A parameterized SCD2 dimension load — the generic form of the
  * reference's three per-dim stored procedures `etl_load_dimcustomer` /
  * `etl_load_dimsalesperson` / `etl_load_dimproduct` (SQL:915-1326),
  * which are copy-pastes of one pattern with different keys/attrs.
  *
  * Each run is one [[graft.meta.LoadTransaction]]: it reads the data
  * watermark (a driver-side scalar, SURVEY §2.C10), pulls the delta
  * from the change feed (predicate pushed to the scan), gates the
  * candidate, publishes it via staged swap, advances the watermark only
  * if the delta was non-empty (SQL:643-651) and appends a run-log row.
  * This class is its plan:
  *   1. recomputes the SCD2 derivation for the TOUCHED natural keys
  *      only (delta keys ∪ delete-detected keys, scoped by semi/anti
  *      joins); untouched rows pass through byte-identical. At 100 TB
  *      a 0.1% delta shuffles 0.1% of the dim, not all of it.
  *   2. assigns surrogate keys STABLY: rows whose version identity
  *      (nk, active_from, tiebreak) already exists keep their SK; new
  *      versions get max(SK)+rank — the reference's append-only
  *      IDENTITY behavior (SQL:317). A global renumber would shift SKs
  *      under previously-loaded fact rows and dangle their references.
  *   3. detects deletes against the current source snapshot
  *      (reference SQL:974-988) and closes those versions out.
  * An empty delta with no deletes yields no candidate, and the write
  * is skipped entirely.
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
    * The gate is the Stage-5 SCD2 sweep
    * ([[graft.checks.Checks.dimSweep]]) over the touched keys.
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
           tracker: LoadTracker, log: RunLog): Long =
    LoadTransaction.run(spark, name, dimPath, tracker, log, changeFeed, changeTs,
        nk, scoped => Checks.dimSweep(Seq((name, nk, scoped)))) { (delta, inserted) =>
      val attrs = (Seq(nk) ++ tracked ++ Seq(changeTs) ++ tiebreak).distinct
      val deltaRows = delta.select(attrs.map(col): _*)

      // the touched-NK scope is None on the initial load: everything
      // is new
      val candidate: Option[Candidate] =
        if (!StagedWrite.exists(spark, dimPath))
          Some(Candidate(Scd2.withSurrogate(derive(deltaRows), skCol, identityCols),
            None, 0L, 0L))
        // no-op rerun with no snapshot to diff against: nothing can be
        // touched, so neither the dimension nor the feed is scanned
        else if (inserted == 0L && snapshotKeys.isEmpty) None
        else {
          val dim = Tables.read(spark, dimPath)
          // an empty delta contributes no keys and no rows, so it is
          // not scanned again; rows landing after the stats scan are
          // re-read next run (J38)
          val newRows = if (inserted == 0L) deltaRows.limit(0) else deltaRows
          // 1. recompute scope: keys with new versions or deletions
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
            // 2. stable surrogates: reuse by version identity,
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
            Some(Candidate(untouched.unionByName(kept.unionByName(fresh)),
              Some(touched), updated, 0L))
          }
        }

      // 3. delete detection: close out vanished keys "as of now"
      candidate.map(c => snapshotKeys.fold(c) { snap =>
        val gone = Scd2.deletedKeys(
          c.table.filter(col("is_current") === 1L), snap, nk)
          .select(col(nk)).distinct()
        val closeTs = lit(LocalDateTime.now())
        val closed =
          c.table.join(gone.withColumn("__gone", lit(1)), Seq(nk), "left")
            .withColumn("active_to",
              when(col("__gone") === 1 && col("is_current") === 1L,
                closeTs).otherwise(col("active_to")))
            .withColumn("is_current",
              when(col("__gone") === 1, 0L).otherwise(col("is_current")))
            .drop("__gone")
        // rows_deleted: one current version closes per vanished key —
        // the reference's delete-detect UPDATE @@ROWCOUNT
        // (SQL:1018-1023); the count is over the (small) gone-key set,
        // not the dimension
        c.copy(table = closed, deleted = gone.count())
      })
    }
}
