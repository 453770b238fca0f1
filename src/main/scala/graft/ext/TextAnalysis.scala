package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Text analysis for training-data pipelines: language ID, quality
  * scoring, token counting, fingerprinting (extension surface,
  * SURVEY §7.6). All pure column expressions — whole-stage codegen,
  * no UDFs, trivially data-parallel at any scale.
  */
object TextAnalysis {

  /** Stopword marker lists per language (tiny, deterministic n-gram
    * heuristic in the Gottron/Lipka style: score = marker-token hits). */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  private def hits(w: Column, markers: Seq[String]): Column =
    size(filter(w, t => t.isin(markers.map(lit): _*))).cast("long")

  /** Language ID: argmax of marker hits, first-listed language wins
    * ties, 'und' when nothing matches. */
  def langId(text: Column): Column = {
    val w = split(text, " ")
    val scores = Markers.map { case (lang, m) => lang -> hits(w, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** DuckDB twin of [[langId]] as a full SELECT over `documents`:
    * per-language hits and their max are computed ONCE in a subquery
    * (inlining the greatest-of-five expression into every CASE branch
    * would re-scan the split ~10×, and textual placeholder replacement
    * is fragile). */
  def langIdOracleSql: String =
    s"""
    |${predLangSelectSql("doc_id")}
    |ORDER BY doc_id
    |""".stripMargin.trim

  /** Inner SELECT shared by the lang oracles: `keepCols` + `pred_lang`
    * over `documents`. Per-language hits and their max are computed
    * ONCE in a subquery (inlining the greatest-of-five expression into
    * every CASE branch would re-scan the split ~10×, and textual
    * placeholder replacement is fragile). */
  private def predLangSelectSql(keepCols: String): String = {
    def hitsSql(m: Seq[String]) =
      s"len(list_filter(w, t -> t IN (${m.map(x => s"'$x'").mkString(", ")})))"
    val hitCols = Markers.map { case (lang, m) =>
      s"${hitsSql(m)} AS __h_$lang"
    }.mkString(",\n|    ")
    val best = Markers.map { case (lang, _) => s"__h_$lang" }
      .reduce((a, b) => s"greatest($a, $b)")
    // fold right so the FIRST language in Markers wins ties
    val caseExpr = Markers.foldRight("'und'") { case ((lang, _), acc) =>
      s"CASE WHEN __h_$lang = __best AND __best > 0 THEN '$lang' ELSE $acc END"
    }
    // DuckDB lateral column aliases: __best may reference the __h_*
    // aliases defined earlier in the same SELECT list
    s"""SELECT $keepCols, $caseExpr AS pred_lang
    |FROM (
    |  SELECT $keepCols,
    |    $hitCols,
    |    $best AS __best
    |  FROM (SELECT $keepCols, str_split(text, ' ') AS w
    |        FROM documents))""".stripMargin
  }

  /** Declared-label vs predicted-language confusion matrix:
    * (lang, pred_lang, n_docs) — the label-audit companion to
    * `quality_agreement` (rule-vs-model): off-diagonal mass is either
    * mislabeled source metadata or marker-list gaps, and watching it
    * per ingest batch is how a curation pipeline catches upstream
    * label drift. One projection + one map-side-combining agg over at
    * most |langs|² cells. */
  def langConfusion(docs: DataFrame, lang: Column,
                    text: Column): DataFrame =
    docs.select(lang.as("lang"), langId(text).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** DuckDB twin of [[langConfusion]] over `documents`. */
  def langConfusionOracleSql: String =
    s"""
    |SELECT lang, pred_lang, count(*) AS n_docs
    |FROM (${predLangSelectSql("doc_id, lang").replace("\n", "\n  ")})
    |GROUP BY lang, pred_lang
    |ORDER BY lang, pred_lang
    |""".stripMargin.trim

  /** The blended quality score over a PRE-SPLIT words column
    * (stopword ratio 0.3 + distinct-token ratio 0.7) — the ranking
    * signal [[qualityFeatures]] emits, reusable where only the scalar
    * is needed (e.g. quality-aware dedup keep rules). Takes the words
    * array rather than raw text so callers can pin the split behind an
    * alias boundary (`select(split(text, " ").as("__w"))`) and pay it
    * once — inlined into the four references below, an unaliased
    * split would re-tokenize every document 4× (the
    * [[graft.ext.Dedup.wordGramsFrom]] trap; HOF arguments evaluate
    * interpreted, outside codegen subexpression elimination). */
  def qualityScoreFrom(w: Column): Column = {
    val nTokens = size(w).cast("long")
    val stopHits = hits(w, Markers.head._2)
    (stopHits.cast("double") / nTokens.cast("double")) * lit(0.3) +
      (size(array_distinct(w)).cast("long").cast("double") /
        nTokens.cast("double")) * lit(0.7)
  }

  /** DuckDB twin of [[qualityScoreFrom]] over the words of a `text`
    * column. */
  def qualityScoreSql(text: String): String = {
    val stop = Markers.head._2.map(x => s"'$x'").mkString(", ")
    s"(CAST(len(list_filter(str_split($text, ' '), t -> t IN ($stop))) AS DOUBLE)" +
      s" / CAST(len(str_split($text, ' ')) AS DOUBLE)) * 0.3 + " +
      s"(CAST(len(list_distinct(str_split($text, ' '))) AS DOUBLE)" +
      s" / CAST(len(str_split($text, ' ')) AS DOUBLE)) * 0.7"
  }

  /** [[qualityScoreFrom]]'s float-free twin in exact ppm:
    * 0.3·stop/n + 0.7·dist/n folded as one integer division
    * (stop·300000 + dist·700000) div n — the form to use wherever the
    * score becomes a SORT KEY or a RANK INPUT (per-domain caps,
    * bias audits), because two engines agree on an integer division
    * unconditionally while float rounding at a rank boundary could
    * reorder ties. Takes the pre-split words column (same alias-
    * boundary contract as [[qualityScoreFrom]]). */
  def qualityPpmFrom(w: Column): Column = {
    val n = size(w).cast("long")
    val stop = hits(w, Markers.head._2)
    val dist = size(array_distinct(w)).cast("long")
    // exact integer division without `div` (which needs named-column
    // expr strings): subtract the remainder first, so the long/long
    // `/` (a double op) divides exactly and IEEE returns the integer
    // quotient bit-exactly. Bound: numerator < 2^53 ⟺ the single
    // document has < ~1.3e10 words — a per-document bound, not a
    // corpus-mass one, so the 100 TB posture is unaffected.
    val num = stop * lit(300000L) + dist * lit(700000L)
    ((num - num % n) / n).cast("long")
  }

  /** DuckDB twin of [[qualityPpmFrom]] over a raw `text` column. */
  def qualityPpmSql(text: String): String = {
    val stop = Markers.head._2.map(x => s"'$x'").mkString(", ")
    s"CAST((len(list_filter(str_split($text, ' '), t -> t IN ($stop)))" +
      s" * 300000 + len(list_distinct(str_split($text, ' '))) * 700000)" +
      s" // len(str_split($text, ' ')) AS BIGINT)"
  }

  /** Tokenizer-vocabulary coverage per stratum: the fraction (ppm) of
    * the stratum's token mass covered by the corpus-global top-`topN`
    * vocabulary — the OOV-rate audit run before trusting a fixed
    * vocab across languages (a stratum whose coverage sits far below
    * the corpus norm will fragment into fallback bytes/UNKs at
    * training time). Vocabulary = top-N words by (count DESC, word) —
    * a full word rollup then a TakeOrdered head, so the only
    * row-scale shuffle is the rollup; the vocab itself is topN rows
    * and broadcasts into the coverage join. */
  def vocabCoverage(docs: DataFrame, g: Column, text: Column,
                    topN: Int): DataFrame = {
    val toks = docs.select(g.as("g"),
      explode(Dedup.words(text)).as("w"))
    val vocab = toks.groupBy(col("w"))
      .agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("w").asc)
      .limit(topN)
      .select(col("w"), lit(1L).as("__v"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("g"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(coalesce(col("__v"), lit(0L))).cast("long").as("n_covered"))
      .withColumn("coverage_ppm", expr(
        "(cast(n_covered as decimal(38,0)) * 1000000) div n_tokens")
        .cast("long"))
      .withColumn("oov_ppm", lit(1000000L) - col("coverage_ppm"))
  }

  /** DuckDB twin of [[vocabCoverage]] over `documents` grouped by
    * `g` (a column of `documents`). */
  def vocabCoverageOracleSql(g: String, topN: Int): String =
    s"""
    |WITH toks AS (
    |  SELECT $g AS g, unnest(str_split(text, ' ')) AS w
    |  FROM documents),
    |vocab AS (
    |  SELECT w FROM (SELECT w, count(*) AS cnt FROM toks GROUP BY 1)
    |  ORDER BY cnt DESC, w LIMIT $topN),
    |cov AS (
    |  SELECT g, CAST(count(*) AS BIGINT) AS n_tokens,
    |    CAST(sum(CASE WHEN w IN (SELECT w FROM vocab)
    |             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
    |  FROM toks GROUP BY g)
    |SELECT g, n_tokens, n_covered,
    |  CAST(CAST(n_covered AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
    |    AS coverage_ppm,
    |  1000000 - CAST(CAST(n_covered AS HUGEINT) * 1000000 // n_tokens
    |    AS BIGINT) AS oov_ppm
    |FROM cov ORDER BY g
    |""".stripMargin.trim

  /** "Is the quality filter secretly a length filter?" — the exact-ppm
    * Spearman rank correlation between [[qualityPpmFrom]] and the
    * token count, over the whole corpus ([[Profiler.spearmanCorr]]'s
    * two two-phase global ranks; doc id breaks ties). A |rho| near
    * 1e6 means the quality gate re-implements a length cut and the
    * curation ablation table is redundant; near 0 means the two gates
    * prune different documents. */
  def qualityLengthBias(docs: DataFrame, id: Column,
                        text: Column): DataFrame = {
    val base = docs.withColumn("__w", Dedup.words(text))
      .select(qualityPpmFrom(col("__w")).as("q"),
        size(col("__w")).cast("long").as("len"),
        id.cast("long").as("did"))
    Profiler.spearmanCorr(base, col("q"), col("len"), Seq(col("did")))
  }

  /** DuckDB twin of [[qualityLengthBias]] over `documents`. */
  def qualityLengthBiasOracleSql: String =
    s"""
    |WITH rows0 AS (
    |  SELECT ${qualityPpmSql("text")} AS xa,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS xb,
    |    CAST(doc_id AS BIGINT) AS k0
    |  FROM documents),
    |ra AS (
    |  SELECT xa, xb, k0,
    |    CAST(row_number() OVER (ORDER BY xa, xb, k0) AS HUGEINT) AS ra
    |  FROM rows0),
    |rb AS (
    |  SELECT xa, xb, k0,
    |    CAST(row_number() OVER (ORDER BY xb, xa, k0) AS HUGEINT) AS rb
    |  FROM rows0),
    |rao AS (
    |  SELECT *, row_number() OVER (PARTITION BY xa, xb, k0
    |    ORDER BY ra) AS occ FROM ra),
    |rbo AS (
    |  SELECT *, row_number() OVER (PARTITION BY xa, xb, k0
    |    ORDER BY rb) AS occ FROM rb)
    |SELECT CAST(count(*) AS BIGINT) AS n_rows,
    |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
    |  CAST(1000000 - (6000000 * sum((ra - rb) * (ra - rb)))
    |    // (CAST(count(*) AS HUGEINT)
    |        * (CAST(count(*) AS HUGEINT) * count(*) - 1)) AS BIGINT)
    |    AS rho_ppm
    |FROM rao JOIN rbo USING (xa, xb, k0, occ)
    |""".stripMargin.trim

  /** Quality features: token count, mean token length, stopword ratio,
    * alpha ratio — plus a blended score. Ratios are double divisions
    * of exact longs (same IEEE op both engines). */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    // split once behind an alias boundary (multiply-referenced alias
    // survives CollapseProject), not per referencing expression
    val w = col("__w")
    val nTokens = size(w).cast("long")
    val nChars = length(text).cast("long")
    val stopHits = hits(w, Markers.head._2)
    df.withColumn("__w", split(text, " "))
      .withColumn("n_tokens", nTokens)
      .withColumn("n_chars_computed", nChars)
      .withColumn("mean_token_len",
        (nChars - (nTokens - 1)).cast("double") / nTokens.cast("double"))
      .withColumn("stopword_ratio",
        stopHits.cast("double") / nTokens.cast("double"))
      .withColumn("distinct_ratio",
        size(array_distinct(w)).cast("long").cast("double") / nTokens.cast("double"))
      .withColumn("quality_score",
        col("stopword_ratio") * lit(0.3) + col("distinct_ratio") * lit(0.7))
      .drop("__w")
  }

  def qualityFeaturesSqlColumns: String = {
    val stop = Markers.head._2.map(x => s"'$x'").mkString(", ")
    """
    |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
    |  CAST(length(text) AS BIGINT) AS n_chars_computed,
    |  CAST(length(text) - (len(str_split(text, ' ')) - 1) AS DOUBLE)
    |    / CAST(len(str_split(text, ' ')) AS DOUBLE) AS mean_token_len,
    |  CAST(len(list_filter(str_split(text, ' '), t -> t IN (STOP))) AS DOUBLE)
    |    / CAST(len(str_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
    |  CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
    |    / CAST(len(str_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
    |  (CAST(len(list_filter(str_split(text, ' '), t -> t IN (STOP))) AS DOUBLE)
    |    / CAST(len(str_split(text, ' ')) AS DOUBLE)) * 0.3 +
    |  (CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
    |    / CAST(len(str_split(text, ' ')) AS DOUBLE)) * 0.7 AS quality_score
    |""".stripMargin.trim.replace("STOP", stop)
  }

  /** Token counts: whitespace tokens plus a BPE-ish subword estimate
    * (alphanumeric runs + punctuation as separate tokens). */
  def tokenCounts(df: DataFrame, text: Column): DataFrame = df
    .withColumn("ws_tokens", size(split(text, " ")).cast("long"))
    .withColumn("re_tokens",
      size(regexp_extract_all(text, lit("[a-zA-Z0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
        .cast("long"))

  val tokenCountsSqlColumns: String =
    """CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS re_tokens""".stripMargin

  /** Repetition signals in the Gopher style (Rae et al. 2021, §A1.1:
    * "fraction of duplicate n-grams" / "fraction occupied by the most
    * common n-gram"): boilerplate and looping generations show up as
    * mass concentrated in few n-grams long before exact dedup fires.
    *
    * Shape: explode word `n`-grams (WITH repeats — occupancy is over
    * occurrences, not types), count per (doc, gram), then fold to one
    * row per doc. Two keyed hash aggregations; the first's map-side
    * partial combine collapses each document's repeats before the
    * shuffle, so shuffle volume tracks DISTINCT grams per doc. Scales
    * like vocabTopK. Docs with fewer than `n` words have no grams and
    * emit no row (the oracle's inner join mirrors this).
    *
    *   - `dup_gram_frac`: fraction of gram OCCURRENCES whose gram
    *     appears more than once in the doc
    *   - `top_gram_frac`: occupancy of the single most common gram
    *   - `dup_word_frac`: 1 − distinct/total words (the 1-gram type
    *     ratio, computable without a second explode)
    */
  def repetitionFeatures(docs: DataFrame, id: Column, text: Column,
                         n: Int = 2): DataFrame = {
    val counts = docs
      .select(id.as("doc_id"), Dedup.words(text).as("__w"))
      .select(col("doc_id"),
        // carried through both aggregations as a group constant —
        // avoids a second scan of the corpus for the word-level ratio
        (lit(1.0) - size(array_distinct(col("__w"))).cast("double") /
          size(col("__w")).cast("double")).as("__dwf"),
        explode(Dedup.wordGramsFrom(col("__w"), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("__c"), first(col("__dwf")).as("__dwf"))
    counts.groupBy(col("doc_id"))
      .agg(first(col("__dwf")).as("dup_word_frac"),
        sum(col("__c")).as("n_grams"),
        (sum(when(col("__c") > 1, col("__c")).otherwise(0L)).cast("double") /
          sum(col("__c")).cast("double")).as("dup_gram_frac"),
        (max(col("__c")).cast("double") /
          sum(col("__c")).cast("double")).as("top_gram_frac"))
  }

  /** DuckDB twin of [[repetitionFeatures]] over `documents`. */
  def repetitionOracleSql(n: Int = 2): String =
    s"""
    |WITH w AS (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents),
    |g AS (SELECT doc_id, unnest(${Dedup.wordGramsSql(n)}) AS gram FROM w),
    |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
    |r AS (SELECT doc_id,
    |  CAST(sum(c) AS BIGINT) AS n_grams,
    |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
    |    / CAST(sum(c) AS DOUBLE) AS dup_gram_frac,
    |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_gram_frac
    |FROM c GROUP BY doc_id)
    |SELECT d.doc_id,
    |  CAST(1 AS DOUBLE) - CAST(len(list_distinct(str_split(d.text, ' '))) AS DOUBLE)
    |    / CAST(len(str_split(d.text, ' ')) AS DOUBLE) AS dup_word_frac,
    |  r.n_grams, r.dup_gram_frac, r.top_gram_frac
    |FROM documents d JOIN r ON d.doc_id = r.doc_id
    |ORDER BY d.doc_id
    |""".stripMargin.trim

  /** Bigram language-model fit: how "typical" each document's word
    * transitions are under the corpus's own bigram statistics — the
    * perplexity-proxy quality signal (docs full of never-seen-again
    * transitions score low; formulaic text scores high) computed
    * without a trained model.
    *
    * Per bigram occurrence (w1, w2): the MLE continuation ratio
    * count(w1 w2) / count(w1), integer-scaled as (cb·10^6) div cw —
    * like [[Corpus.tfidfTopTerms]], integer division instead of
    * floating log so the score cannot drift an ulp between engines.
    * Per doc: the mean ratio, again integer division. Shape: one
    * bigram explode, two keyed count aggregations, two equi-joins on
    * (w1, w2) / w1, one doc-keyed fold — every shuffle on a natural
    * key, nothing pairwise. */
  def lmFit(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"), Dedup.words(text).as("__w"))
    val pairs = toks.select(col("doc_id"),
      explode(when(size(col("__w")) >= 2,
        transform(sequence(lit(1), size(col("__w")) - 1),
          i => struct(element_at(col("__w"), i).as("w1"),
            element_at(col("__w"), i + lit(1)).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("__bg"))
      .select(col("doc_id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val cb = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__cb"))
    val cw = toks.select(explode(col("__w")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("__cw"))
    pairs.join(cb, Seq("w1", "w2")).join(cw, Seq("w1"))
      .withColumn("__r", expr("(__cb * 1000000) div __cw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(__r) div count(1)").cast("long").as("fit_q"))
  }

  /** DuckDB twin of [[lmFit]] over `documents` (parallel unnests zip
    * positionally in DuckDB, pairing each w1 with its successor). */
  def lmFitOracleSql: String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |bg AS (SELECT doc_id,
    |  unnest(list_transform(range(greatest(len(w) - 1, 0)), i -> w[i + 1])) AS w1,
    |  unnest(list_transform(range(greatest(len(w) - 1, 0)), i -> w[i + 2])) AS w2
    |  FROM w),
    |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    |cw AS (SELECT w1, count(*) AS cw
    |       FROM (SELECT unnest(w) AS w1 FROM w) GROUP BY w1),
    |j AS (SELECT bg.doc_id, (cb.cb * 1000000) // cw.cw AS r
    |      FROM bg JOIN cb USING (w1, w2) JOIN cw USING (w1))
    |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
    |  CAST(sum(r) // count(*) AS BIGINT) AS fit_q
    |FROM j GROUP BY doc_id ORDER BY doc_id
    |""".stripMargin.trim

  /** Document fingerprint: full-text polynomial hash plus the minimum
    * of character 8-gram rolling hashes (the winnowing-style "pick a
    * stable representative substring hash" signal, Schleimer et al.
    * 2003). */
  def fingerprints(df: DataFrame, text: Column, n: Int = 8): DataFrame =
    df.withColumn("full_hash", Hashing.polyHash(text))
      .withColumn("min_gram_hash", minCharGramHash(text, n))

  /** min over character n-gram polynomial hashes. */
  def minCharGramHash(text: Column, n: Int): Column =
    array_min(transform(
      sequence(lit(1), greatest(length(text) - lit(n - 1), lit(1))),
      i => Hashing.polyHash(text.substr(i, lit(n)))))

  def fingerprintSqlColumns(n: Int): String =
    s"""${Hashing.polyHashSql("text")} AS full_hash,
       |  list_min(list_transform(range(1, greatest(length(text) - ${n - 1}, 1) + 1),
       |    i -> ${Hashing.polyHashSql(s"text[i:i+${n - 1}]")})) AS min_gram_hash""".stripMargin

  /** Quality-band assignment + per-band corpus mass — the curriculum /
    * filtering summary a data-quality sweep feeds from ("how many
    * tokens live above each quality cut"). Bands are FIXED-WIDTH over
    * the [0, 1] blended score ([[qualityScoreFrom]]):
    * `band = min(floor(score · nBands), nBands − 1)` — one exact IEEE
    * multiply + floor, so band edges cannot drift cross-engine.
    *
    * Deliberately NOT `ntile`: a global quantile banding is an
    * unpartitioned window — every row through ONE partition, the
    * single worst scale shape there is. Fixed-width banding is a
    * stateless projection + one hash agg (map-side combine), the same
    * at 50k docs and 100 TB; when quantile EDGES are wanted, compute
    * them once from [[graft.ext.Corpus.lengthQuantiles]]-style
    * machinery (constant-size output) and band by threshold — still a
    * projection. */
  def qualityBands(docs: DataFrame, id: Column, text: Column,
                   nBands: Int = 4): DataFrame = {
    val w = col("__w")
    docs.select(id.as("doc_id"), split(text, " ").as("__w"))
      .select(col("doc_id"), size(w).cast("long").as("__t"),
        qualityScoreFrom(w).as("__score"))
      .withColumn("band",
        least(floor(col("__score") * nBands), lit(nBands - 1)).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("band_tokens"),
        min(col("__score")).as("min_score"),
        max(col("__score")).as("max_score"))
  }

  /** DuckDB twin of [[qualityBands]] over `documents`. */
  def qualityBandsOracleSql(nBands: Int = 4): String =
    s"""
    |WITH scored AS (
    |  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS t,
    |    ${qualityScoreSql("text")} AS score
    |  FROM documents),
    |banded AS (
    |  SELECT doc_id, t, score,
    |    CAST(least(floor(score * $nBands), $nBands - 1) AS BIGINT) AS band
    |  FROM scored)
    |SELECT band, count(*) AS n_docs,
    |  CAST(sum(t) AS BIGINT) AS band_tokens,
    |  min(score) AS min_score, max(score) AS max_score
    |FROM banded GROUP BY band ORDER BY band
    |""".stripMargin.trim

  /** Lexical diversity per stratum: document, token, and TYPE
    * (distinct token) counts, plus the type-token ratio in exact
    * ppm — the vocabulary-richness signal a source-mix curation
    * compares strata by (boilerplate-heavy sources have low TTR).
    *
    * One explode + one hash agg; `countDistinct` plans as the
    * standard two-phase distinct-expand, partial-combined map-side —
    * no all-distinct-values collect anywhere. The ratio is integer
    * arithmetic (`types · 1e6 div tokens`), exact cross-engine. */
  def ttrStats(docs: DataFrame, id: Column, g: Column,
               text: Column): DataFrame =
    docs.select(id.as("doc_id"), g.as("g"),
        explode(split(text, " ")).as("__tok"))
      .groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("__tok")).as("n_types"))
      .withColumn("ttr_ppm", expr("(n_types * 1000000L) div n_tokens"))

  /** Hashing-trick bag-of-words embedding (Weinberger et al., ICML
    * 2009): a dense `dim`-bucket token-count vector per document,
    * `bucket = polyhash(token) mod dim` — the stateless text→vector
    * bridge that feeds the ANN / clustering surface without a learned
    * vocabulary (no vocab table to build, ship, or keep consistent:
    * any executor hashes any token to the same bucket at any scale).
    *
    * Shape: explode + (doc, bucket) hash agg + one map-backed
    * densify projection — all codegen'd except the final 64-element
    * assembly, which runs once per DOCUMENT (not per token). Counts
    * are exact int64; the vector is deterministic, so downstream
    * cosine/ANN results are replayable. */
  def featureHash(docs: DataFrame, id: Column, text: Column,
                  dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    docs.select(id.as("doc_id"),
      org.apache.spark.sql.graftext.FeatureHashBridge
        .column(text, dim, Hashing.P).as("features"))
  }

  /** Reference formulation of [[featureHash]] as explode → (doc,
    * bucket) agg → densify — the executable spec of the compiled
    * kernel (TextAnalysisSpec pins them identical). As a PLAN it is
    * the shape feature hashing exists to avoid: at 100× (500k docs)
    * the 32M-key shuffle costs ~2 minutes where the kernel
    * projection costs none. */
  def featureHashViaAgg(docs: DataFrame, id: Column, text: Column,
                        dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val toks = docs
      .select(id.as("doc_id"), explode(split(text, " ")).as("__tok"))
      .select(col("doc_id"),
        pmod(Hashing.polyHash(col("__tok")), lit(dim.toLong)).as("__b"))
    toks.groupBy(col("doc_id"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__c"))))
        .as("__m"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(col("__m"), i), lit(0L)))
          .as("features"))
  }

  /** DuckDB twin of the declared `feature_hash` query (the dense
    * vector posexploded to (doc_id, bucket, cnt) rows — the gate
    * canonicalizes scalar cells, not arrays; the dense array is the
    * library API, the exploded form is its checkable image). */
  def featureHashOracleSql(dim: Int = 64): String =
    s"""
    |WITH toks AS (
    |  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents),
    |hb AS (
    |  SELECT doc_id, ${Hashing.polyHashSql("tok")} % $dim AS bucket
    |  FROM toks),
    |counts AS (
    |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
    |  FROM hb GROUP BY 1, 2),
    |dense AS (
    |  SELECT d.doc_id, CAST(i.i AS BIGINT) AS bucket
    |  FROM (SELECT DISTINCT doc_id FROM toks) d
    |  CROSS JOIN (SELECT unnest(range(0, $dim)) AS i) i)
    |SELECT dense.doc_id, dense.bucket, coalesce(c, 0) AS cnt
    |FROM dense LEFT JOIN counts
    |  ON counts.doc_id = dense.doc_id AND counts.bucket = dense.bucket
    |ORDER BY dense.doc_id, dense.bucket
    |""".stripMargin.trim

  /** DuckDB twin of [[ttrStats]] over `documents`. */
  def ttrStatsOracleSql(g: String): String =
    s"""
    |WITH toks AS (
    |  SELECT doc_id, $g AS g, unnest(str_split(text, ' ')) AS tok
    |  FROM documents)
    |SELECT g, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
    |  CAST(count(*) AS BIGINT) AS n_tokens,
    |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
    |  (count(DISTINCT tok) * 1000000) // count(*) AS ttr_ppm
    |FROM toks GROUP BY g ORDER BY g
    |""".stripMargin.trim

  /** Vocabulary-TAIL audit per stratum: how much of each source's
    * token mass is corpus-wide hapax legomena (global frequency 1) —
    * the complement of `vocab_coverage`'s head view. High hapax mass
    * flags OCR noise, mojibake, or id-like junk vocabularies that
    * inflate a learned tokenizer; curation pipelines read it next to
    * TTR when deciding per-source cleanup passes.
    *
    * Shape: one explode + one token-keyed hash agg (the big shuffle,
    * partial-combined map-side), then per-stratum folds. The trick
    * that keeps it two aggregates instead of re-joining the hapax
    * set against the exploded corpus: a global-frequency-1 token has
    * exactly ONE occurrence, so `min(g)` on its tf row IS the
    * stratum of that occurrence — the hapax→stratum attribution is
    * exact and rides the tf agg for free. Integer ppm only. */
  def hapaxStats(docs: DataFrame, g: Column, text: Column): DataFrame = {
    val toks = docs.select(g.as("g"), explode(split(text, " ")).as("__tok"))
    val tf = toks.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__tf"), min(col("g")).as("g"))
    val hapax = tf.filter(col("__tf") === 1)
      .groupBy(col("g")).agg(count(lit(1)).as("n_hapax"))
    val tot = toks.groupBy(col("g"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("__tok")).as("n_types"))
    tot.join(hapax, Seq("g"), "left")
      .select(col("g"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_types").cast("long").as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).cast("long").as("n_hapax"),
        expr("(coalesce(n_hapax, 0) * 1000000L) div n_tokens")
          .cast("long").as("hapax_ppm"))
  }

  /** DuckDB twin of [[hapaxStats]] over `documents` by `source`. */
  val hapaxStatsOracleSql: String =
    """
    |WITH toks AS (
    |  SELECT source AS g, unnest(str_split(text, ' ')) AS tok
    |  FROM documents),
    |tf AS (SELECT tok, count(*) AS tf, min(g) AS g FROM toks GROUP BY tok),
    |hap AS (SELECT g, count(*) AS n_hapax FROM tf WHERE tf = 1 GROUP BY g),
    |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n_tokens,
    |          CAST(count(DISTINCT tok) AS BIGINT) AS n_types
    |        FROM toks GROUP BY g)
    |SELECT tot.g, n_tokens, n_types,
    |  CAST(coalesce(n_hapax, 0) AS BIGINT) AS n_hapax,
    |  (coalesce(n_hapax, 0) * 1000000) // n_tokens AS hapax_ppm
    |FROM tot LEFT JOIN hap ON hap.g = tot.g ORDER BY tot.g
    |""".stripMargin.trim

  // ===============================================================
  // Gopher quality rules (Rae et al. 2021, §A1.1)
  // ===============================================================

  /** The Gopher "required words" — a document must contain at least
    * [[GopherMinStopHits]] DISTINCT members to pass the stop-word
    * rule (Rae et al. 2021 §A1.1 list, verbatim). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  /** Full Gopher quality-filter rule set (Rae et al. 2021 §A1.1) as
    * per-rule 0/1 flags plus the conjunctive `keep` decision — the
    * standard pre-training corpus filter, emitted as an AUDITABLE
    * table (per-rule flags, not just the verdict) so a pipeline can
    * report which rule rejected how much of each source.
    *
    *   - `flag_n_words`: 50 ≤ word count ≤ 100,000
    *   - `flag_word_len`: mean word length in [3, 10] characters
    *   - `flag_alpha`: ≥ 80% of words contain ≥ 1 ASCII alphabetic
    *     character (rejects CJK/no-script documents in Gopher's
    *     English-only setting; the fixture's zh docs carry Latin
    *     vocabulary, so the word-count rule is what splits them)
    *   - `flag_symbol`: ≤ 10% of words contain '#' or '...'
    *   - `flag_stop`: ≥ 2 distinct words from [[GopherStops]]
    *     (fixture vocabulary contains only "the" from the list, so
    *     this flag is 0 for most fixture docs — the per-rule columns
    *     keep the output discriminative regardless)
    *
    * The repetition rules of §A1.1 are the separately-declared
    * `repetition_score` query ([[repetitionFeatures]]); the line-level
    * bullet/ellipsis rules are vacuous on single-line documents and
    * are folded into `flag_symbol`'s ellipsis test.
    *
    * Pure column expressions — a projection, no shuffle, linear at
    * any scale. Ratio comparisons are single exact-long→double
    * divisions (identical IEEE ops both engines). */
  def gopherRules(docs: DataFrame, id: Column, text: Column): DataFrame =
    gopherRulesCarry(docs, id, text, Seq.empty)

  /** [[gopherRules]] with pass-through columns (column → output
    * name) — lets aggregating consumers keep their grouping key in
    * the projection instead of re-joining the corpus on doc_id (a
    * full second scan + shuffle at 100 TB). */
  def gopherRulesCarry(docs: DataFrame, id: Column, text: Column,
                       carry: Seq[(Column, String)]): DataFrame = {
    val w = col("__w")
    val nWords = size(w).cast("long")
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    docs.select(id.as("doc_id") +: text.as("__text") +:
        carry.map { case (c, n) => c.as(n) }: _*)
      .withColumn("__w", split(col("__text"), " "))
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        (length(col("__text")) - (nWords - 1)).cast("double") /
          nWords.cast("double"))
      .withColumn("alpha_frac",
        size(filter(w, t => t.rlike("[a-zA-Z]"))).cast("double") /
          nWords.cast("double"))
      .withColumn("flag_n_words",
        flag(col("n_words") >= 50L && col("n_words") <= 100000L))
      .withColumn("flag_word_len",
        flag(col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0))
      .withColumn("flag_alpha", flag(col("alpha_frac") >= 0.8))
      .withColumn("flag_symbol", flag(
        size(filter(w, t => t.contains("#") || t.contains("...")))
          .cast("double") / nWords.cast("double") <= 0.1))
      .withColumn("flag_stop", flag(
        size(array_intersect(array_distinct(w),
          array(GopherStops.map(lit): _*))) >= GopherMinStopHits))
      .withColumn("keep",
        col("flag_n_words") * col("flag_word_len") * col("flag_alpha") *
          col("flag_symbol") * col("flag_stop"))
      .drop("__w", "__text")
  }

  /** Per-stratum Gopher rejection profile — the curation report a
    * pipeline owner reads before shipping a filter config: for each
    * stratum (source), how many documents each rule rejects and how
    * many survive the conjunction. One stratum-keyed aggregate over
    * the [[gopherRules]] projection — |strata|-bounded output. */
  def gopherRejectStats(docs: DataFrame, id: Column, text: Column,
                        strata: Column): DataFrame = {
    gopherRulesCarry(docs, id, text, Seq(strata -> "g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("flag_n_words")).as("rej_n_words"),
        sum(lit(1L) - col("flag_word_len")).as("rej_word_len"),
        sum(lit(1L) - col("flag_alpha")).as("rej_alpha"),
        sum(lit(1L) - col("flag_symbol")).as("rej_symbol"),
        sum(lit(1L) - col("flag_stop")).as("rej_stop"),
        sum(col("keep")).as("n_keep"))
  }

  /** DuckDB twin of [[gopherRejectStats]] over `documents` with
    * strata = `source`. */
  def gopherRejectStatsOracleSql: String =
    s"""
    |WITH g AS (${gopherRulesOracleSql.replace("\n", "\n|  ")})
    |SELECT d.source AS g, CAST(count(*) AS BIGINT) AS n_docs,
    |  CAST(sum(1 - flag_n_words) AS BIGINT) AS rej_n_words,
    |  CAST(sum(1 - flag_word_len) AS BIGINT) AS rej_word_len,
    |  CAST(sum(1 - flag_alpha) AS BIGINT) AS rej_alpha,
    |  CAST(sum(1 - flag_symbol) AS BIGINT) AS rej_symbol,
    |  CAST(sum(1 - flag_stop) AS BIGINT) AS rej_stop,
    |  CAST(sum(keep) AS BIGINT) AS n_keep
    |FROM g JOIN documents d USING (doc_id)
    |GROUP BY d.source ORDER BY g
    |""".stripMargin.trim

  /** DuckDB twin of [[gopherRules]] over `documents`. */
  def gopherRulesOracleSql: String = {
    val stops = GopherStops.map(x => s"'$x'").mkString(", ")
    s"""
    |WITH b AS (
    |  SELECT doc_id, text, str_split(text, ' ') AS w,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words
    |  FROM documents),
    |f AS (
    |  SELECT doc_id, n_words,
    |    CAST(length(text) - (n_words - 1) AS DOUBLE)
    |      / CAST(n_words AS DOUBLE) AS mean_word_len,
    |    CAST(len(list_filter(w, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
    |      / CAST(n_words AS DOUBLE) AS alpha_frac,
    |    CAST(len(list_filter(w,
    |        t -> contains(t, '#') OR contains(t, '...'))) AS DOUBLE)
    |      / CAST(n_words AS DOUBLE) AS symbol_frac,
    |    len(list_intersect(list_distinct(w), [$stops])) AS stop_hits
    |  FROM b)
    |SELECT doc_id, n_words, mean_word_len, alpha_frac,
    |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
    |       THEN 1 ELSE 0 END AS BIGINT) AS flag_n_words,
    |  CAST(CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
    |       THEN 1 ELSE 0 END AS BIGINT) AS flag_word_len,
    |  CAST(CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS BIGINT)
    |    AS flag_alpha,
    |  CAST(CASE WHEN symbol_frac <= 0.1 THEN 1 ELSE 0 END AS BIGINT)
    |    AS flag_symbol,
    |  CAST(CASE WHEN stop_hits >= $GopherMinStopHits THEN 1 ELSE 0 END
    |       AS BIGINT) AS flag_stop,
    |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
    |         AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
    |         AND alpha_frac >= 0.8 AND symbol_frac <= 0.1
    |         AND stop_hits >= $GopherMinStopHits
    |       THEN 1 ELSE 0 END AS BIGINT) AS keep
    |FROM f ORDER BY doc_id
    |""".stripMargin.trim
  }

  /** Discounted collocation scores over corpus-wide adjacent word
    * bigrams — the phrase-detection pass a tokenizer/phrase-merge
    * pipeline runs before vocabulary building (Mikolov et al.,
    * NeurIPS 2013 §4: `score(ab) = (c_ab − δ) / (c_a · c_b)`,
    * merging high scorers into single tokens). Kept rational for
    * exact cross-engine arithmetic: this emits the min-conditional
    * variant `score_ppm = (c_ab − δ)·10⁶ div max(c_a, c_b)` —
    * the discounted "P(b|a) and P(a|b) are BOTH high" attachment
    * strength — which ranks the same strong collocations without
    * the corpus-size factor that would overflow int64 at large N.
    * δ (`delta`) discounts hapax pairs exactly as in the paper.
    *
    * Shape: bigram assembly is a per-doc array projection (zero
    * shuffle — `transform` over the sliced word array), then one
    * (w1, w2) hash agg; unigram counts are one token agg joined back
    * BROADCAST (vocab-bounded, the k-means-codebook reasoning
    * applied to a count table), so corpus size never rides a
    * bigram-side shuffle beyond the one count agg. Output rows are
    * bounded by BIGRAM TYPES (≤ vocab², Heaps-saturating on real
    * text), not corpus tokens — SCALE.md §21 measures time linear in
    * that output. The broadcast is the named dial: a web-scale type
    * table (~10⁸ rows) outgrows the broadcast threshold, at which
    * point the two joins fall back to shuffle joins on w1/w2 — same
    * plan shape, one partitioning reused. */
  def phraseBigrams(docs: DataFrame, text: Column,
                    delta: Long = 1L): DataFrame = {
    val words = docs.select(split(text, " ").as("__w"))
    val uni = words.select(explode(col("__w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val bi = words
      .select(explode(expr(
        """transform(slice(__w, 1, size(__w) - 1),
          |  (x, i) -> struct(x AS w1, element_at(__w, i + 2) AS w2))"""
          .stripMargin)).as("__b"))
      .select(col("__b.w1"), col("__b.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    bi.join(broadcast(uni.select(col("word").as("w1"),
        col("n").as("n_a"))), "w1")
      .join(broadcast(uni.select(col("word").as("w2"),
        col("n").as("n_b"))), "w2")
      .filter(col("n_ab") > delta)
      .withColumn("score_ppm", expr(
        s"((n_ab - $delta) * 1000000L) DIV greatest(n_a, n_b)"))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"),
        col("n_b"), col("score_ppm"))
  }

  /** DuckDB twin of [[phraseBigrams]] over `documents`. */
  def phraseBigramsOracleSql(delta: Long = 1L): String =
    s"""
    |WITH w AS (SELECT str_split(text, ' ') AS w FROM documents),
    |uni AS (
    |  SELECT word, count(*) AS n
    |  FROM (SELECT unnest(w) AS word FROM w) GROUP BY word),
    |bi AS (
    |  SELECT p[1] AS w1, p[2] AS w2, count(*) AS n_ab
    |  FROM (SELECT unnest(list_transform(
    |          range(greatest(len(w) - 1, 0)),
    |          i -> [w[i + 1], w[i + 2]])) AS p
    |        FROM w)
    |  GROUP BY 1, 2)
    |SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
    |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
    |  CAST(((n_ab - $delta) * 1000000) // greatest(a.n, b.n) AS BIGINT)
    |    AS score_ppm
    |FROM bi JOIN uni a ON bi.w1 = a.word
    |        JOIN uni b ON bi.w2 = b.word
    |WHERE n_ab > $delta
    |ORDER BY w1, w2
    |""".stripMargin.trim

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, public):
    * weighted PageRank over the word co-occurrence graph — adjacent
    * tokens get an undirected edge weighted by corpus-wide
    * co-occurrence count, and a word's rank is the stationary mass
    * the damped walk leaves on it. Corpus-level keywords fall out of
    * the top of the ranking: high-degree words attached to other
    * high-rank words, which frequency alone misranks (a word used
    * once per document in rich contexts outranks a word repeated in
    * one boilerplate block).
    *
    * Arithmetic: the [[graft.ext.Dedup.pairPageRank]] discipline —
    * 1e12 fixed-point mass, per-EDGE contribution `(pr·w) DIV wsum`
    * (decimal product, truncating DIV), damping 15/85 over 100, a
    * FIXED iteration count. Engine-exact on any partitioning.
    *
    * Scale shape: the corpus pass is the bigram projection of
    * [[phraseBigrams]] (zero-shuffle expansion, map-side-combining
    * count agg to a VOCAB²-bounded edge relation — in practice
    * vocab·avg-neighbors). Everything after prices at the vocabulary:
    * per round one edge⋈rank join + one keyed agg + one left join
    * back, the textbook weighted-PageRank layout, edges
    * localCheckpoint'd once. Top-k leaves through a bounded
    * TakeOrdered (pr desc, word asc — deterministic under ties),
    * never a global sort. */
  def textrankKeywords(docs: DataFrame, text: Column, iters: Int = 3,
                       k: Int = 20): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val Scale = 1000000000000L
    val words = docs.select(split(text, " ").as("__w"))
    val pairs = words
      .select(explode(expr(
        """transform(slice(__w, 1, size(__w) - 1),
          |  (x, i) -> struct(
          |    least(x, element_at(__w, i + 2)) AS u,
          |    greatest(x, element_at(__w, i + 2)) AS v))"""
          .stripMargin)).as("__b"))
      .select(col("__b.u"), col("__b.v"))
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    // pin BEFORE the mirror-union: the two union branches are
    // separate subtrees, so an unpinned `pairs` would run the whole
    // corpus pass twice inside the adj job; spread before the
    // checkpoint: AQE coalesces the (small-bytes) pair aggregate to
    // one partition, which would serialize every PageRank round's
    // join; and DICTIONARY-ENCODE words to dense longs before the
    // rounds — string-keyed round joins measured ~2× the long-keyed
    // form on the ×10 probe (SCALE §47). The dict is vocab-bounded
    // (row_number over the sorted vocab — same class as the bounded
    // TakeOrdered) and joins back broadcast only on the k survivors.
    val pairsP = Pin.pin(pairs)
    val dict = Pin.pin(pairsP.select(col("u").as("word"))
      .unionByName(pairsP.select(col("v").as("word")))
      .distinct()
      .withColumn("nid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("word")))
        .cast("long")))
    val pairsN = pairsP
      .join(broadcast(dict.select(col("word").as("u"),
        col("nid").as("un"))), Seq("u"))
      .join(broadcast(dict.select(col("word").as("v"),
        col("nid").as("vn"))), Seq("v"))
      .select(col("un"), col("vn"), col("w"))
    val adj = Pin.pin(pairsN
      .select(col("un").as("src"), col("vn").as("dst"), col("w"))
      .unionByName(pairsN.select(col("vn").as("src"),
        col("un").as("dst"), col("w"))), "textrank.adj", Seq(col("src")))
    val wsum = adj.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    var ranks = Pin.pin(wsum
      .crossJoin(broadcast(wsum.agg(count(lit(1)).as("__n"))))
      .withColumn("pr_fp", expr(s"$Scale DIV __n")))
    for (_ <- 1 to iters) {
      val contrib = adj
        .join(ranks.select(col("src"), col("pr_fp"), col("wsum")),
          Seq("src"))
        .select(col("dst"), expr(
          "(CAST(pr_fp AS DECIMAL(38,0)) * w) DIV wsum").as("__c"))
        .groupBy(col("dst"))
        .agg(sum(col("__c").cast(
          org.apache.spark.sql.types.DecimalType(38, 0))).as("__in"))
      ranks = Pin.pin(ranks.drop("pr_fp")
        .join(contrib.withColumnRenamed("dst", "src"), Seq("src"), "left")
        .withColumn("pr_fp", expr(
          s"(15 * ($Scale DIV __n)) DIV 100 + " +
            "(85 * coalesce(CAST(__in AS BIGINT), 0L)) DIV 100"))
        .drop("__in"))
    }
    ranks
      .orderBy(col("pr_fp").desc, col("src").asc)
      .limit(k)
      .join(broadcast(dict.select(col("nid").as("src"), col("word"))),
        Seq("src"))
      .select(col("word"), col("wsum"), col("pr_fp"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pr_fp").desc, col("word").asc)).cast("long"))
  }

  /** DuckDB twin of [[textrankKeywords]] over `documents`. */
  def textrankKeywordsOracleSql(iters: Int = 3, k: Int = 20): String = {
    val Scale = "1000000000000"
    val base = s"(15 * ($Scale // (SELECT n FROM nn))) // 100"
    val rounds = (1 to iters).map { r =>
      val prev = if (r == 1) "p0" else s"p${r - 1}"
      s"""c$r AS MATERIALIZED (
         |  SELECT a.dst, sum((p.pr * a.wt) // w.wsum) AS cin
         |  FROM adj a JOIN $prev p ON p.src = a.src
         |  JOIN ws w ON w.src = a.src
         |  GROUP BY a.dst),
         |p$r AS MATERIALIZED (
         |  SELECT w.src, $base + (85 * coalesce(c.cin, 0)) // 100 AS pr
         |  FROM ws w LEFT JOIN c$r c ON c.dst = w.src)""".stripMargin
    }.mkString(",\n")
    s"""
    |WITH w AS MATERIALIZED (
    |  SELECT str_split(text, ' ') AS w FROM documents),
    |pairs AS MATERIALIZED (
    |  SELECT least(p[1], p[2]) AS u, greatest(p[1], p[2]) AS v,
    |    count(*) AS wt
    |  FROM (SELECT unnest(list_transform(
    |          range(greatest(len(w) - 1, 0)),
    |          i -> [w[i + 1], w[i + 2]])) AS p
    |        FROM w)
    |  WHERE p[1] <> p[2]
    |  GROUP BY 1, 2),
    |adj AS MATERIALIZED (
    |  SELECT u AS src, v AS dst, wt FROM pairs
    |  UNION ALL SELECT v, u, wt FROM pairs),
    |ws AS MATERIALIZED (SELECT src, sum(wt) AS wsum FROM adj GROUP BY src),
    |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM ws),
    |p0 AS MATERIALIZED (
    |  SELECT src, CAST($Scale AS HUGEINT) // (SELECT n FROM nn) AS pr
    |  FROM ws),
    |$rounds,
    |ranked AS (
    |  SELECT p.src AS word, w.wsum, p.pr,
    |    row_number() OVER (ORDER BY p.pr DESC, p.src ASC) AS rank
    |  FROM p$iters p JOIN ws w ON w.src = p.src)
    |SELECT word, CAST(wsum AS BIGINT) AS wsum,
    |  CAST(pr AS BIGINT) AS pr_fp, CAST(rank AS BIGINT) AS rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY rank
    |""".stripMargin.trim
  }
}
