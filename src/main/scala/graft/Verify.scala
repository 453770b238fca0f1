package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Queries run
  * on a small thread pool — Spark's scheduler interleaves their jobs,
  * so many small queries keep all cores busy instead of serializing
  * their stragglers. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Usage: Verify <sfDir> <outDir> [query ...]; with names given,
    // dumps only those queries (targeted re-checks while iterating —
    // the driver's full run passes none and gets everything)
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def deleteDump(name: String): Unit = {
      val dir = Paths.get(s"$outDir/$name")
      if (Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
      }
    }
    val dumps = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      Future {
        // a failed query must leave NO dump behind: a stale parquet
        // from a previous run would make the oracle compare PASS a
        // regressed query. Delete up front (a plan-time failure never
        // reaches the writer's own overwrite) and again on failure
        // (a mid-write crash leaves a partial directory).
        deleteDump(name)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: $e")
          e.printStackTrace()
          deleteDump(name)
        }
      }
    }
    Await.result(Future.sequence(dumps), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
