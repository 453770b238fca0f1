package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Pins the compiled poly-hash kernel to its higher-order-function
  * executable spec on ASCII data (all the fixtures contain; the kernel
  * additionally handles multi-byte code points DuckDB-compatibly). */
class HashingSpec extends SparkSpec {

  test("native polyHash equals the HOF formulation on the fixture corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bad = docs.select(
        Hashing.polyHash(col("text")).as("native"),
        Hashing.polyHashHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("native polyHash edge cases match the HOF formulation") {
    import spark.implicits._
    val cases = Seq("", " ", "a", "abc def", "  double  spaces  ",
      "0123456789", "!@#$%^&*()_+-=[]{};:'\",.<>/?\\|`~", "\t\n",
      "a" * 500).toDF("s")
    val bad = cases.select(
        Hashing.polyHash(col("s")).as("native"),
        Hashing.polyHashHof(col("s")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad == 0)
    // hand-computed: ((0*31+97)*31+98)*31+99 = 96354
    assert(cases.limit(1).select(Hashing.polyHash(lit("abc"))).first()
      .getLong(0) == 96354L)
    // null propagates
    val n = cases.limit(1).select(
      Hashing.polyHash(lit(null).cast("string"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("zValue column expression equals the reference interleave") {
    import spark.implicits._
    import graft.functions.ZOrder
    // exhaustive at bits=4 (all 256 pairs), plus mask behavior beyond
    val pairs = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zValue(col("a"), col("b"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == ZOrder.zValueRef(a, b, 4))
    }
    assert(got.values.toSeq.distinct.length == 256, "must be a bijection")
    // quadkey prefix property: the high z bits are the interleave of
    // the high input bits — this is what makes range pruning work
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) >> 4 == ZOrder.zValueRef(a >> 2, b >> 2, 2))
    }
    // out-of-domain inputs mask, not overflow
    val big = Seq((1L << 40 | 5L, 3L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), 4)).collect().head.getLong(0)
    assert(big == ZOrder.zValueRef(5L, 3L, 4))
  }

  test("native polyHash decodes multi-byte UTF-8 as code points") {
    import spark.implicits._
    val strs = Seq("héllo", "日本語", "añ€jo", "mix 日 a é", "😀😀", "€")
    def expected(s: String): Long = {
      var h = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        i += Character.charCount(cp)
        h = (h * 31 + cp) % graft.functions.Hashing.P
      }
      h
    }
    val got = strs.toDF("s").select(col("s"),
        Hashing.polyHash(col("s")).as("h")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach(s => assert(got(s) == expected(s),
      s"code-point hash drifted for '$s'"))
  }
}
