package graft

import java.nio.file.Files

import graft.ext.Pin

/** The opt-in `SPARK_GRAFT_PIN_EXPLAIN_DIR` plan dump is a debug hook:
  * it must never fail the pin it observes, and never overwrite an
  * earlier dump. */
class PinDumpSpec extends SparkSpec {

  test("plan dump: unwritable directory is skipped, names never repeat") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("id")
    val root = Files.createTempDirectory("graft_pin").toFile
    // a directory below a regular file cannot be created, even by root
    val blocker = new java.io.File(root, "blocker")
    assert(blocker.createNewFile())
    assert(Pin.dumpPlanTo(df, s"$blocker/plans").isEmpty)

    val a = Pin.dumpPlanTo(df, s"$root/plans")
    val b = Pin.dumpPlanTo(df, s"$root/plans")
    assert(a.exists(_.length() > 0) && b.exists(_.length() > 0))
    assert(a.get.getName != b.get.getName)
    // a run token precedes the per-JVM sequence number
    assert(a.get.getName.matches("pin_[0-9a-f]+-[0-9]+_[0-9]{4}\\.txt"),
      a.get.getName)
  }
}
