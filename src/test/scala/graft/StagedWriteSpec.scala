package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.meta.StagedWrite

/** Crash-safety of the staged-swap publish: every intermediate state
  * the rename dance can be interrupted in must recover to a complete
  * table (never "no table", which would make the loaders silently
  * rebuild from the delta alone).
  */
class StagedWriteSpec extends SparkSpec {

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readIds(p: String): Set[Long] =
    spark.read.parquet(p).collect().map(_.getLong(0)).toSet

  test("overwrite publishes atomically and cleans up") {
    val root = Files.createTempDirectory("graft_sw").toString
    val tgt = s"$root/t"
    import spark.implicits._
    StagedWrite.overwrite(Seq(1L, 2L).toDF("id"), tgt)
    assert(readIds(tgt) == Set(1L, 2L))
    // second overwrite replaces, leaves no .old / .staging-* behind
    StagedWrite.overwrite(Seq(3L).toDF("id"), tgt)
    assert(readIds(tgt) == Set(3L))
    val leftovers = fs(root).globStatus(new Path(s"$root/t.*"))
    assert(leftovers == null || leftovers.isEmpty,
      s"leftover publish dirs: ${leftovers.map(_.getPath).mkString(",")}")
  }

  test("recover restores a lone .old (crash between rename-aside and rename-in)") {
    val root = Files.createTempDirectory("graft_sw").toString
    val tgt = s"$root/t"
    import spark.implicits._
    StagedWrite.overwrite(Seq(7L).toDF("id"), tgt)
    // simulate the crash: target renamed aside, new version never landed
    assert(fs(root).rename(new Path(tgt), new Path(tgt + ".old")))
    StagedWrite.recover(spark, tgt)
    assert(readIds(tgt) == Set(7L))
    assert(!fs(root).exists(new Path(tgt + ".old")))
  }

  test("LoadTracker survives a crashed publish without resetting watermarks") {
    import java.time.LocalDateTime
    import graft.meta.LoadTracker
    val root = Files.createTempDirectory("graft_sw").toString
    val tracker = new LoadTracker(spark, s"$root/tracker")
    val wm = LocalDateTime.of(2024, 3, 1, 12, 0)
    tracker.advance("fact", Some(wm))
    // crash between rename-aside and rename-in
    assert(fs(root).rename(new Path(s"$root/tracker"),
      new Path(s"$root/tracker.old")))
    // a fresh instance: `tracker` serves its in-memory copy, so only a
    // new reader goes through recover
    assert(new LoadTracker(spark, s"$root/tracker").watermark("fact") == wm,
      "watermark must recover, not reset to epoch")
  }

  test("recover drops leftover .old and orphaned staging dirs") {
    val root = Files.createTempDirectory("graft_sw").toString
    val tgt = s"$root/t"
    import spark.implicits._
    StagedWrite.overwrite(Seq(7L).toDF("id"), tgt)
    // crash after commit but before .old cleanup; plus an orphaned write
    Seq(1L).toDF("id").write.parquet(tgt + ".old")
    Seq(2L).toDF("id").write.parquet(tgt + ".staging-deadbeef")
    StagedWrite.recover(spark, tgt)
    assert(readIds(tgt) == Set(7L))
    assert(!fs(root).exists(new Path(tgt + ".old")))
    assert(!fs(root).exists(new Path(tgt + ".staging-deadbeef")))
  }
}
