package graft

import org.apache.spark.sql.functions._

import graft.ext.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("applyMerge is greedy left-to-right and cannot re-fuse output") {
    val df = Seq(Tuple1("aaa")).toDF("word")
    val out = df.select(
      Bpe.applyMerge(split(col("word"), ""), "a", "a").as("toks"))
      .collect()(0).getSeq[String](0)
    assert(out == Seq("aa", "a"), s"got $out")
  }

  test("encode applies rules in order; tokens concatenate to the word") {
    val rules = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val out = Seq(Tuple1("lowest")).toDF("word")
      .select(Bpe.encode(col("word"), rules).as("toks"))
      .collect()(0).getSeq[String](0)
    assert(out == Seq("low", "est"), s"got $out")
    assert(out.mkString == "lowest")
  }

  test("pairCounts weights pairs by word frequency on the real table") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hist = Bpe.wordHistogram(docs, col("text"))
    val pc = Bpe.pairCounts(Bpe.initialTokens(hist))
    // total pair mass == sum over words of cnt * (len - 1)
    val expected = hist
      .select(sum(col("cnt") * (length(col("word")) - 1)))
      .collect()(0).getLong(0)
    val got = pc.select(sum("pair_cnt")).collect()(0).getLong(0)
    assert(got == expected, s"pair mass $got != $expected")
  }

  test("fertility: >= 1 token per word, exact against encodeStats") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rules = Seq("a b" -> "ab", "ab c" -> "abc")
    val out = Bpe.fertility(docs, col("lang"), col("text"), rules)
      .collect().map(r => (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_words"), r.getAs[Long]("tokens_per_word_ppm")))
    assert(out.nonEmpty)
    out.foreach { case (toks, words, ppm) =>
      // BPE never crosses word boundaries: every word is >= 1 token,
      // so fertility can dip below 1.0 only if the fold invented words
      assert(ppm >= 1000000L, s"fertility $ppm < 1.0")
      assert(ppm == (BigInt(toks) * 1000000 / BigInt(words)).toLong)
    }
  }
}
