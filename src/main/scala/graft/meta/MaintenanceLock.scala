package graft.meta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Mutual exclusion between a persisted index's APPEND path and its
  * COMPACTION/REBUILD path.
  *
  * The race it closes: compaction is read-then-staged-swap; rows an
  * append lands between the read and the swap are deleted by the
  * swap, and the appender has already returned, so nothing replays
  * them — the loss is silent. With the lock, an append that fires
  * mid-compaction BLOCKS until the swap completes (then appends to
  * the compacted table — zero loss), and a compaction that fires
  * mid-append blocks until the append commits.
  *
  * Mechanics: one marker file `<dir>/_maintenance.lock` taken with
  * an atomic create-if-absent — `FileSystem.createNewFile` on HDFS
  * (namenode-arbitrated), NIO `Files.createFile` (O_CREAT|O_EXCL)
  * for local paths, because Hadoop's LOCAL create(overwrite=false)
  * is exists-then-create and NOT atomic (see [[tryAcquire]]); an
  * object store without atomic create needs an external coordinator,
  * the standard caveat every file-lock protocol carries. Lock-loss on
  * crash is healed by AGE: a holder writes its epoch, and a waiter
  * that finds a lock older than `staleMs` (default 30 min — far
  * beyond any compaction) breaks it and retries, so a crashed
  * compactor cannot wedge ingest forever. Waiters poll — maintenance
  * windows are seconds-to-minutes apart, not microseconds, and a
  * poll keeps the protocol one file instead of a queue.
  */
object MaintenanceLock {

  val LockName = "_maintenance.lock"

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir, LockName)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** One atomic acquisition attempt; true iff this caller now holds
    * the lock. The parent dir is created first (a fresh index dir
    * must be lockable before its first table exists).
    *
    * Atomicity is scheme-dependent and BOTH branches matter:
    * `FileSystem.createNewFile` is atomic on HDFS (namenode
    * arbitrates) but on the LOCAL filesystem Hadoop implements
    * `create(f, overwrite=false)` as exists-check-then-create — two
    * racing callers can both pass the check and both believe they
    * hold the lock (found by the PersistedPqSpec race test flaking
    * under full-suite load: the compactor's staged swap deleted the
    * appender's in-flight `_temporary` committer dir). Local paths
    * therefore go through NIO `Files.createFile` — O_CREAT|O_EXCL,
    * atomic on POSIX. */
  def tryAcquire(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsFor(spark, dir)
    fs.mkdirs(p.getParent)
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      try { java.nio.file.Files.createFile(local); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try fs.createNewFile(p)
      catch { case _: java.io.IOException => false }
    }
  }

  def isHeld(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsFor(spark, dir)
    fs.exists(p)
  }

  /** Release; idempotent (releasing an unheld lock is a no-op — the
    * crash-recovery path may have broken it already). */
  def release(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = fsFor(spark, dir)
    fs.delete(p, false)
  }

  /** Age of the current lock in ms, or None when unheld. */
  def ageMs(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) None
    else Some(System.currentTimeMillis - fs.getFileStatus(p)
      .getModificationTime)
  }

  /** Run `body` holding the lock: poll-acquire (breaking a stale
    * holder), always release. Throws after `waitMs` — an append or
    * compaction must fail LOUDLY rather than proceed unserialized
    * (the silent-loss failure mode this object exists to remove). */
  def withLock[T](spark: SparkSession, dir: String,
                  waitMs: Long = 120000L, pollMs: Long = 200L,
                  staleMs: Long = 30 * 60 * 1000L)(body: => T): T = {
    val deadline = System.currentTimeMillis + waitMs
    var acquired = tryAcquire(spark, dir)
    while (!acquired && System.currentTimeMillis < deadline) {
      if (ageMs(spark, dir).exists(_ > staleMs)) release(spark, dir)
      else Thread.sleep(pollMs)
      acquired = tryAcquire(spark, dir)
    }
    if (!acquired)
      throw new IllegalStateException(
        s"maintenance lock on $dir not acquired within ${waitMs}ms " +
          s"(holder age ${ageMs(spark, dir).getOrElse(-1L)}ms) — " +
          "an unserialized append/compaction would silently lose rows")
    try body finally release(spark, dir)
  }
}
