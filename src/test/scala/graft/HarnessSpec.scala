package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The one entrypoint harness (session, warmup guard, timed trial)
  * and Bench's frozen last stdout line. */
class HarnessSpec extends SparkSpec {

  private def warmedOn(sfDir: String): Option[String] = {
    var seen = Option.empty[String]
    Harness.warm(sfDir)(d => seen = Some(d))
    seen
  }

  test("warm skips the warmup dir itself, named plainly, with a " +
    "trailing slash or through a symlink") {
    assume(new java.io.File(Harness.WarmupDir).isDirectory)
    val tmp = Files.createTempDirectory("harness-warm")
    val link = Files.createSymbolicLink(tmp.resolve("sf"),
      Paths.get(Harness.WarmupDir))
    try {
      assert(warmedOn(Harness.WarmupDir).isEmpty)
      assert(warmedOn(Harness.WarmupDir + "/").isEmpty)
      assert(warmedOn(link.toString).isEmpty)
      assert(warmedOn(link.toString + "/").isEmpty)
      // any other scale factor does warm, on the warmup dir
      assert(warmedOn(tmp.toString).contains(Harness.WarmupDir))
      // and a failing warmup does not escape
      Harness.warm(tmp.toString)(_ => throw new IllegalStateException("x"))
    } finally { Files.delete(link); Files.delete(tmp) }
  }

  test("a throwing trial body yields ok = false and records no wall") {
    val (ok, wall) = Harness.trial()(
      throw new IllegalStateException("planned failure"))
    assert(!ok)
    assert(wall < 0)
  }

  test("Bench's compact line on 330 names: within budget, heaviest " +
    "first, kept + omitted = n_queries, failures listed") {
    val rnd = new scala.util.Random(17)
    val results = (0 until 330).map { i =>
      f"synthetic_query_family_$i%03d" ->
        (if (i % 41 == 7) -1.0 else rnd.nextInt(200000) / 1000.0)
    }
    val line = Bench.compactLine(results, "/data/sf0.1")
    assert(line.getBytes("UTF-8").length <= Bench.LineBudget)
    val j = new ObjectMapper().readTree(line)
    assert(j.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "n_queries", "queries_omitted", "failed", "sf"))
    val kept = j.get("queries").fields.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toSeq
    val good = results.filter(_._2 >= 0)
    assert(kept.nonEmpty && kept.size < good.size,
      "the budget must bind on 330 names")
    // heaviest first, and nothing omitted outweighs what was kept
    assert(kept.map(_._2) == kept.map(_._2).sortBy(-_))
    val omittedMax = good.filterNot(g => kept.exists(_._1 == g._1))
      .map(_._2).max
    assert(kept.last._2 >= math.round(omittedMax * 1000) / 1000.0)
    assert(j.get("n_queries").asInt == 330)
    assert(j.get("queries_omitted").asInt + kept.size == 330)
    val failed = j.get("failed").elements.asScala.map(_.asText).toSeq
    assert(failed == results.filter(_._2 < 0).map(_._1))
    assert(failed.nonEmpty)
    assert(math.abs(j.get("value").asDouble - good.map(_._2).sum) < 1e-6)
  }

  test("src/main calls SparkSession.builder() only inside Harness") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main),
      s"run from the repo root, not ${Paths.get(".").toAbsolutePath}")
    val callers = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { f =>
        Files.readAllLines(f).asScala.exists { l =>
          val t = l.trim
          !t.startsWith("*") && !t.startsWith("/") &&
            t.contains("SparkSession.builder()")
        }
      }
      .map(main.relativize(_).toString).toSeq
    assert(callers == Seq("scala/graft/Harness.scala"),
      s"SparkSession.builder() outside Harness: $callers")
  }
}
