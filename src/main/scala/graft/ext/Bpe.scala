package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer statistics (Sennrich, Haddow, Birch, ACL 2016 —
  * "Neural Machine Translation of Rare Words with Subword Units"):
  * BPE learns merge rules by repeatedly counting adjacent token pairs
  * over the corpus and fusing the most frequent pair. No reference
  * analog; this is the tokenizer leg of the training-data pipeline
  * surface (SURVEY §7.6). Served here: the pair counts of one
  * training round and encoding under a fixed rule list.
  *
  * The classic scale trick makes this tractable at 100 TB: BPE
  * statistics depend only on the WORD HISTOGRAM, not the token
  * stream. One explode+agg collapses the corpus to (word, count) —
  * at trillion-token scale the distinct-word table is millions of
  * rows, not trillions — and pair counting and encoding run over
  * that histogram: one explode+agg pair count with map-side combine,
  * and merges applied as a codegen'd `aggregate` fold over each
  * word's token array — no UDF.
  *
  * Determinism: pair counts are exact int64, and a round's winning
  * pair is the first by (count DESC, left ASC, right ASC) — a total
  * order, so ties cannot make two engines diverge. Merges use
  * the standard left-to-right greedy fold: in `aaa` with merge
  * (a,a), the first two fuse, the third survives alone — the fold
  * can't re-fuse `aa`+`a` because the merged symbol no longer equals
  * the rule's left side.
  */
object Bpe {

  /** Word histogram: (word, cnt), the sufficient statistic. */
  def wordHistogram(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(Dedup.words(text)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Initial symbol sequence: one single-character token per
    * codepoint (`split` on the empty pattern). */
  def initialTokens(words: DataFrame): DataFrame =
    words.withColumn("toks", split(col("word"), ""))

  /** Corpus-weighted adjacent-pair counts over tokenized words: for
    * every adjacent token pair (a, b) in any word, the total number
    * of occurrences across the corpus (each word contributing
    * `cnt` × its internal pair multiplicity). One generator
    * projection + one hash agg — the per-round cost of training. */
  def pairCounts(tokenized: DataFrame): DataFrame =
    tokenized
      .filter(size(col("toks")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("a"),
          element_at(col("toks"), i + lit(1)).as("b")))).as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(sum(col("cnt")).as("pair_cnt"))

  /** Apply one merge rule (a, b) → ab to a token-array column via a
    * left-to-right greedy fold — `aggregate` is whole-stage
    * codegen'd, so this is a projection, not a UDF. */
  def applyMerge(toks: Column, a: String, b: String): Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, t) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) &&
            t === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(t))))

  /** Encode a word column with learned rules applied in order —
    * `nRules` chained fold projections (fine for the tens-of-rules
    * demo scale; a production encoder compiles the rule table into
    * one native expression). */
  def encode(words: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(split(words, "")) {
      case (toks, (a, b)) => applyMerge(toks, a, b)
    }

  /** Corpus encode statistics under a FIXED rule list: per stratum,
    * word/char counts and the token count after applying the merges —
    * the compression audit a tokenizer change ships with (chars per
    * token is the headline number). Rules are literals, so the DuckDB
    * twin can replay the identical greedy fold (`list_reduce`) and
    * the whole query is oracle-checkable — unlike learned rules,
    * which depend on the corpus and cannot be re-derived on the
    * oracle side.
    *
    * Scale shape: encode runs once per DISTINCT (stratum, word) —
    * the word-histogram trick again — then the stats are one hash
    * agg over histogram rows weighted by `cnt`. */
  def encodeStats(docs: DataFrame, g: Column, text: Column,
                  rules: Seq[(String, String)]): DataFrame = {
    val hist = docs
      .select(g.as("g"), explode(Dedup.words(text)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("g"), col("word")).agg(count(lit(1)).as("cnt"))
    hist
      .withColumn("__toks", size(encode(col("word"), rules)).cast("long"))
      .withColumn("__chars", length(col("word")).cast("long"))
      .groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("__chars")).as("n_chars"),
        sum(col("cnt") * col("__toks")).as("n_tokens"),
        expr("(sum(cnt * __chars) * 1000000L) div sum(cnt * __toks)")
          .as("chars_per_token_ppm"))
  }

  /** Tokenizer FERTILITY per stratum — subword tokens per whitespace
    * word, in exact ppm ([[encodeStats]] + one derived column). The
    * standard multilingual-tokenizer audit: a language whose fertility
    * runs far above the corpus norm pays proportionally more of the
    * context window per word (and more compute per sentence), which
    * is exactly what the mixture/budget planners upstream need to
    * know before trusting token counts as a proxy for content mass.
    * Same decimal(38,0) fold discipline as the other ppm columns. */
  def fertility(docs: DataFrame, g: Column, text: Column,
                rules: Seq[(String, String)]): DataFrame =
    encodeStats(docs, g, text, rules)
      .withColumn("tokens_per_word_ppm", expr(
        "(cast(n_tokens as decimal(38,0)) * 1000000) div n_words")
        .cast("long"))

  /** DuckDB twin of [[fertility]] over `documents`. */
  def fertilityOracleSql(g: String,
                         rules: Seq[(String, String)]): String = {
    val inner = encodeStatsOracleSql(g, rules)
      .replaceAll("ORDER BY g\\s*$", "")
    s"""
    |SELECT g, n_words, n_chars, n_tokens, chars_per_token_ppm,
    |  CAST(CAST(n_tokens AS HUGEINT) * 1000000 // n_words AS BIGINT)
    |    AS tokens_per_word_ppm
    |FROM ($inner)
    |ORDER BY g
    |""".stripMargin.trim
  }

  /** One greedy-fold round in DuckDB over a VARCHAR[] expression —
    * the literal twin of [[applyMerge]] (element-wise `[x]` wrapping
    * keeps the lambda types uniform across chained rounds). */
  private def mergeRoundSql(listExpr: String, a: String, b: String): String =
    s"""list_reduce(
       |  list_prepend(CAST([] AS VARCHAR[]),
       |    list_transform($listExpr, x -> [x])),
       |  (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = '$a'
       |      AND x[1] = '$b'
       |    THEN list_append(acc[:-2], '$a$b')
       |    ELSE list_append(acc, x[1]) END)""".stripMargin

  /** DuckDB twin of [[encodeStats]] over `documents`. */
  def encodeStatsOracleSql(g: String,
                           rules: Seq[(String, String)]): String = {
    val encoded = rules.foldLeft("str_split(word, '')") {
      case (e, (a, b)) => mergeRoundSql(e, a, b)
    }
    s"""
    |WITH words AS (
    |  SELECT $g AS g, word, count(*) AS cnt
    |  FROM (SELECT $g, unnest(str_split(text, ' ')) AS word FROM documents)
    |  WHERE len(word) > 0 GROUP BY 1, 2),
    |enc AS (
    |  SELECT g, cnt, CAST(len(word) AS BIGINT) AS chars,
    |    CAST(len($encoded) AS BIGINT) AS toks
    |  FROM words)
    |SELECT g, CAST(sum(cnt) AS BIGINT) AS n_words,
    |  CAST(sum(cnt * chars) AS BIGINT) AS n_chars,
    |  CAST(sum(cnt * toks) AS BIGINT) AS n_tokens,
    |  CAST((sum(cnt * chars) * 1000000) // sum(cnt * toks) AS BIGINT)
    |    AS chars_per_token_ppm
    |FROM enc GROUP BY g ORDER BY g
    |""".stripMargin.trim
  }

  /** DuckDB twin of round-1 [[pairCounts]] over `documents` (initial
    * single-character symbols), top-`limit` pairs by the training
    * order (count DESC, pair ASC). */
  def pairCountsOracleSql(limit: Int): String =
    s"""
    |WITH words AS (
    |  SELECT word, count(*) AS cnt
    |  FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
    |  WHERE len(word) > 0 GROUP BY word),
    |toks AS (SELECT cnt, str_split(word, '') AS toks FROM words),
    |pairs AS (
    |  SELECT cnt,
    |    unnest(list_transform(range(len(toks) - 1),
    |      i -> struct_pack(a := toks[i + 1], b := toks[i + 2]))) AS p
    |  FROM toks WHERE len(toks) >= 2)
    |SELECT p.a AS a, p.b AS b, CAST(sum(cnt) AS BIGINT) AS pair_cnt
    |FROM pairs GROUP BY 1, 2
    |ORDER BY pair_cnt DESC, a, b
    |LIMIT $limit
    |""".stripMargin.trim
}
