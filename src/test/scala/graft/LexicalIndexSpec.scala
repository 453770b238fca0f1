package graft

import org.apache.spark.sql.functions._
import graft.ext.{Lexical, Corpus}

/** Pins for the persisted lexical index: search parity with the
  * one-pass bm25TopK, bucket pruning, the batch search form, and the
  * driver/engine hash-twin. */
class LexicalIndexSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private val terms = Seq("spark", "merge", "window", "customer")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"lexspec-$tag-")
    java.nio.file.Files.deleteIfExists(d)
    d.toString
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("polyHashLocal is the engine kernel's exact driver twin") {
    val sample = terms :+ "zebra" :+ "a b" :+ ""
    val spark2 = spark
    import spark2.implicits._
    val viaEngine = sample.toDF("s")
      .select(col("s"), graft.functions.Hashing.polyHash(col("s")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sample.foreach { s =>
      assert(Lexical.polyHashLocal(s) == viaEngine(s), s"term '$s'")
    }
  }

  test("persisted search ≡ one-pass bm25TopK, row for row") {
    val dir = tmpDir("parity")
    Lexical.lexWriteIndex(docs, col("doc_id"), col("text"), dir, 16)
    val persisted = rows(Lexical.lexSearchIndex(spark, dir, terms, 20, 16))
    val onePass = rows(Corpus.bm25TopK(docs, col("doc_id"), col("text"),
      terms, 20))
    assert(persisted == onePass)
  }

  test("search scan is bucket-pruned (partition filter in the plan)") {
    val dir = tmpDir("prune")
    Lexical.lexWriteIndex(docs, col("doc_id"), col("text"), dir, 16)
    val plan = Lexical.lexSearchIndex(spark, dir, Seq("spark"), 5, 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("bucket"), plan.take(2000))
  }

  test("lexSearchMany: a single-query batch equals lexSearchIndex " +
      "row for row; duplicate query rows don't double-count") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("many")
    Lexical.lexWriteIndex(docs, col("doc_id"), col("text"), dir, 16)
    val single = rows(Lexical.lexSearchIndex(spark, dir, terms, 20, 16))
    // the same term set as query 7, with one (query, term) row
    // duplicated: distinct() must make it harmless
    val q = (terms.map(7L -> _) :+ (7L -> terms.head))
      .toDF("query_id", "term")
    val batch = Lexical.lexSearchMany(spark, dir, q, 20, 16)
      .select("doc_id", "score_fp")
    assert(rows(batch) == single,
      "batch form drifted from the single-query form")
  }

  test("lexSearchMany: queries rank independently (a term set that " +
      "differs gets a different ranking)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("many2")
    Lexical.lexWriteIndex(docs, col("doc_id"), col("text"), dir, 16)
    val q = Seq(0L -> "spark", 1L -> "customer").toDF("query_id", "term")
    val got = Lexical.lexSearchMany(spark, dir, q, 5, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val q0 = got.filter(_._1 == 0L).map(_._2)
    val q1 = got.filter(_._1 == 1L).map(_._2)
    assert(q0.nonEmpty && q1.nonEmpty)
    val w0 = rows(Lexical.lexSearchIndex(spark, dir, Seq("spark"), 5, 16))
      .map(_._1)
    val w1 = rows(Lexical.lexSearchIndex(spark, dir, Seq("customer"), 5,
      16)).map(_._1)
    assert(q0 == w0 && q1 == w1,
      "per-query rankings drifted from the single-query form")
  }
}
