package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ext.Walks
import graft.schema.Tables

/** `Tables.read` plans a parquet read with the schema of one footer read
  * on the driver. It must give the DataFrame `spark.read.parquet` gives,
  * start no Spark job, and leave partitioned and missing paths to
  * Spark. */
class TablesReadSpec extends SparkSpec {
  import spark.implicits._

  private def children(dir: Path): Seq[String] =
    Files.list(dir).iterator.asScala.map(_.toString).toSeq.sorted

  /** every fixture table at sf0.001 and sf0.01, and sf0.1 when present */
  private def fixtures: Seq[String] =
    Seq("sf0.001", "sf0.01", "sf0.1").map(Paths.get(sf).resolveSibling)
      .filter(Files.isDirectory(_)).flatMap(children)
      .filter(_.endsWith(".parquet"))

  /** every int/mart/meta table of a strict sf0.001 build */
  private lazy val warehouse: Seq[String] = {
    val root = Files.createTempDirectory("graft_tables_read")
    Pipeline.runAll(spark, sf, root.toString, strict = true)
    Seq("int", "mart", "meta").flatMap(l => children(root.resolve(l)))
  }

  /** reads every path both ways: the schemas must match and the helper
    * must start no job */
  private def assertSameSchemas(paths: Seq[String]): Unit = {
    val (read, jobs) = jobsDuring(paths.map(p => p -> Tables.read(spark, p).schema))
    assert(jobs == 0, s"Tables.read started $jobs Spark jobs")
    read.foreach { case (p, schema) =>
      assert(schema == spark.read.parquet(p).schema, s"schema of $p")
    }
  }

  test("fixture tables: spark.read.parquet's schema, no Spark job") {
    val paths = fixtures
    assert(paths.size >= 20, s"fixtures: $paths")
    assertSameSchemas(paths)
  }

  test("warehouse tables: spark.read.parquet's schema and rows, no Spark job") {
    assert(warehouse.size == 11, s"warehouse: $warehouse")
    assertSameSchemas(warehouse)
    val fact = warehouse.find(_.endsWith("/int/factsales")).get
    val got = Tables.read(spark, fact).orderBy("sales_nk").collect().toSeq
    assert(got.nonEmpty)
    assert(got == spark.read.parquet(fact).orderBy("sales_nk").collect().toSeq)
  }

  test("a Spark-written TIMESTAMP_MICROS events file reads as inferred") {
    val path = Files.createTempDirectory("graft_micros_events").resolve("events.parquet")
    Seq((1L, 7L, "view", Timestamp.valueOf("2024-01-02 03:04:05.123456")))
      .toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("ts_ntz", col("ts").cast("timestamp_ntz"))
      .write.parquet(path.toString)
    assertSameSchemas(Seq(path.toString))
    assert(Tables.read(spark, path.toString).collect().toSeq ==
      spark.read.parquet(path.toString).collect().toSeq)
  }

  test("a partitioned walk corpus falls back and keeps its step column") {
    val dir = Files.createTempDirectory("graft_walk_read").toString
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v")
    Walks.walks(edges, 3).write.partitionBy("step").parquet(s"$dir/walks")
    val schema = Tables.read(spark, s"$dir/walks").schema
    assert(schema.fieldNames.contains("step"))
    assert(schema == spark.read.parquet(s"$dir/walks").schema)
  }

  test("a missing path raises spark.read.parquet's exception type") {
    val missing = Files.createTempDirectory("graft_missing").resolve("none").toString
    val want = intercept[Exception](spark.read.parquet(missing))
    val got = intercept[Exception](Tables.read(spark, missing))
    assert(got.getClass == want.getClass)
  }

  test("building scd2_dim, fact_build and mart_top_orders starts no Spark job") {
    val names = Seq("scd2_dim", "fact_build", "mart_top_orders")
    val queries = Queries.all.filter(q => names.contains(q._1))
    assert(queries.map(_._1).sorted == names.sorted)
    queries.foreach { case (name, build, _) =>
      val (_, jobs) = jobsDuring(build(spark, sf))
      assert(jobs == 0, s"building $name started $jobs Spark jobs")
    }
  }

  /** files under `dir` (relative, sorted) with a code line — not a
    * comment — containing any of `needles` */
  private def codeCallers(dir: Path, needles: String*): Seq[String] = {
    assert(Files.isDirectory(dir),
      s"run from the repo root, not ${Paths.get(".").toAbsolutePath}")
    Files.walk(dir).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { f =>
        Files.readAllLines(f).asScala.exists { l =>
          val t = l.trim
          !t.startsWith("*") && !t.startsWith("/") && needles.exists(t.contains)
        }
      }
      .map(dir.relativize(_).toString).toSeq.sorted
  }

  test("src/main reads parquet with spark.read only in Tables and has no stream") {
    val callers = codeCallers(Paths.get("src/main/scala/graft"), ".read.parquet(")
    assert(callers == Seq("schema/Tables.scala"),
      s"spark.read.parquet outside Tables.read: $callers")
    val streams = codeCallers(Paths.get("src/main"), "readStream", "writeStream")
    assert(streams.isEmpty, s"Structured Streaming in src/main: $streams")
  }

  test("src/main materializes only through Pin: no cache, no persist, " +
      "no localCheckpoint elsewhere") {
    val main = Paths.get("src/main")
    val cached = codeCallers(main, "persist(", ".cache()", "CacheManager")
    val pins = codeCallers(main, ".localCheckpoint(").filterNot(Set(
      "scala/graft/ext/Pin.scala",
      "scala/org/apache/spark/sql/execution/KeyedCheckpoint.scala"))
    assert(cached.isEmpty && pins.isEmpty,
      s"CacheManager use: $cached; localCheckpoint outside Pin: $pins")
  }

  test("tools/reach.py lists no src/main member or type that no root reaches") {
    assert(Files.isRegularFile(Paths.get("tools/reach.py")),
      s"run from the repo root, not ${Paths.get(".").toAbsolutePath}")
    val out = scala.sys.process.Process(Seq("python3", "tools/reach.py"))
      .!!.split("\n").toSeq
    assert(out.headOption.exists(_.startsWith("# members and types")),
      out.take(3).mkString("\n"))
    val unreached = out.drop(1).takeWhile(!_.startsWith("# kept"))
    assert(unreached.isEmpty,
      s"unreached from SparkEntry, Pipeline.runAll, every main and the " +
        s"test references:\n${unreached.mkString("\n")}")
  }
}
