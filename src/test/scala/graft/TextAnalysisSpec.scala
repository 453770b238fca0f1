package graft

import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis

class TextAnalysisSpec extends SparkSpec {

  test("repetitionFeatures: hand-computed fractions on crafted docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),   // one word repeated: bigram "a a" x3
      (2L, "a b c d"),   // all distinct
      (3L, "x")          // too short for a bigram -> no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(docs, col("doc_id"),
      col("text"), 2).collect().map(r => r.getLong(0) -> r).toMap

    assert(out.keySet == Set(1L, 2L), "doc 3 has no bigrams")
    val d1 = out(1L)
    assert(d1.getAs[Double]("dup_word_frac") == 0.75)   // 1 - 1/4
    assert(d1.getAs[Long]("n_grams") == 3)
    assert(d1.getAs[Double]("dup_gram_frac") == 1.0)
    assert(d1.getAs[Double]("top_gram_frac") == 1.0)
    val d2 = out(2L)
    assert(d2.getAs[Double]("dup_word_frac") == 0.0)
    assert(d2.getAs[Long]("n_grams") == 3)
    assert(d2.getAs[Double]("dup_gram_frac") == 0.0)
    assert(d2.getAs[Double]("top_gram_frac") == 1.0 / 3.0)
  }

  test("lmFit: hand-computed continuation ratios on crafted docs") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmFit(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // cw(a)=3; cb(a b)=2 -> r = 2e6 div 3; cb(a c)=1 -> r = 1e6 div 3
    assert(out(1L).getAs[Long]("fit_q") == 2000000L / 3)
    assert(out(2L).getAs[Long]("fit_q") == 2000000L / 3)
    assert(out(3L).getAs[Long]("fit_q") == 1000000L / 3)
    assert(out.values.forall(_.getAs[Long]("n_bigrams") == 1L))
  }

  test("repetitionFeatures: fractions bounded and consistent on the fixture") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rep = TextAnalysis.repetitionFeatures(docs, col("doc_id"),
      col("text"), 2)
    val bad = rep.filter(
      col("dup_gram_frac") < 0 || col("dup_gram_frac") > 1 ||
        col("top_gram_frac") <= 0 || col("top_gram_frac") > 1 ||
        col("dup_word_frac") < 0 || col("dup_word_frac") >= 1 ||
        // top occupancy can never be below 1/n_grams (tolerance for
        // the double division round-trip: x/y*y can land one ulp low)
        col("top_gram_frac") * col("n_grams") < 1 - 1e-9).count()
    assert(bad == 0)
    // every doc with >= 2 words emits exactly one row
    assert(rep.count() ==
      docs.filter(size(split(col("text"), " ")) >= 2).count())
  }

  test("featureHash kernel is bit-identical to the agg formulation") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val kern = TextAnalysis.featureHash(docs, col("doc_id"), col("text"))
    val agg = TextAnalysis.featureHashViaAgg(docs, col("doc_id"), col("text"))
    assert(kern.exceptAll(agg).isEmpty && agg.exceptAll(kern).isEmpty)
    // edge shapes: empty text (one empty token -> bucket of hash 0),
    // single word, beyond-BMP unicode
    val edge = Seq((1L, ""), (2L, "one"), (3L, "x 😀 y")).toDF("doc_id", "text")
    val ek = TextAnalysis.featureHash(edge, col("doc_id"), col("text"))
    val ea = TextAnalysis.featureHashViaAgg(edge, col("doc_id"), col("text"))
    assert(ek.exceptAll(ea).isEmpty && ea.exceptAll(ek).isEmpty)
  }

  test("gopherRules: each rule rejects its planted violator") {
    import spark.implicits._
    val good = (Seq("the", "of") ++
      Seq.fill(16)(Seq("alpha", "beta", "gamma")).flatten).mkString(" ")
    val planted = Seq(
      (1L, good),                                   // 50 words, all rules pass
      (2L, "the of alpha beta gamma"),              // < 50 words
      (3L, ("的 是 了 " * 20).trim + " the of " +
        Seq.fill(15)("alpha beta gamma").mkString(" ")), // CJK → alpha < 0.8
      (4L, (Seq("the", "of") ++ Seq.fill(48)("###")).mkString(" ")), // symbols
      (5L, Seq.fill(50)("alpha").mkString(" ")))    // no stop words
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(planted, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("flag_n_words"),
        r.getAs[Long]("flag_alpha"), r.getAs[Long]("flag_symbol"),
        r.getAs[Long]("flag_stop"), r.getAs[Long]("keep")))
    assert(got.toSeq == Seq(
      (1L, 1L, 1L, 1L, 1L, 1L),
      (2L, 0L, 1L, 1L, 1L, 0L),
      (3L, 1L, 0L, 1L, 1L, 0L),
      (4L, 1L, 0L, 0L, 1L, 0L),   // '###' words are also non-alpha
      (5L, 1L, 1L, 1L, 0L, 0L)), s"got ${got.toSeq}")
  }

  test("gopherRules: keep is the conjunction of the flags, fixture-wide") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val g = TextAnalysis.gopherRules(docs, col("doc_id"), col("text"))
    val bad = g.filter(col("keep") =!=
        col("flag_n_words") * col("flag_word_len") * col("flag_alpha") *
        col("flag_symbol") * col("flag_stop")).count()
    assert(bad == 0)
    assert(g.count() == docs.count())
    // the output is genuinely discriminative on the fixture: the
    // word-count rule splits it (docs are ~20-100 words around the
    // 50-word bound; the fixture's zh docs carry Latin vocabulary, so
    // flag_alpha does NOT discriminate here — see gopherRules scaladoc)
    val nw = g.agg(sum("flag_n_words").as("s")).collect()(0).getLong(0)
    assert(nw > 0 && nw < g.count(), s"flag_n_words should split: $nw")
  }

  test("gopherRejectStats: per-source accounting reconciles with the flags") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val stats = TextAnalysis.gopherRejectStats(docs, col("doc_id"),
      col("text"), col("source")).collect()
    assert(stats.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // rejections + keeps reconcile per row: keep <= n_docs - max(rej)
    stats.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val rejMax = Seq("rej_n_words", "rej_word_len", "rej_alpha",
        "rej_symbol", "rej_stop").map(r.getAs[Long]).max
      assert(r.getAs[Long]("n_keep") <= n - rejMax,
        s"keeps exceed survivors of the strictest rule: $r")
    }
  }

  test("featureHash: vector mass equals token count, dim fixed") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fh = TextAnalysis.featureHash(docs, col("doc_id"), col("text"))
    val bad = fh
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks")), "doc_id")
      .filter(size(col("features")) =!= 64 ||
        aggregate(col("features"), lit(0L), _ + _) =!= col("n_toks"))
      .count()
    assert(bad == 0)
    assert(fh.count() == docs.count())
    // hand-computed: 'a b a' -> 8 buckets, mass 3, the repeated token 2
    val v = docs.limit(1).select(
      org.apache.spark.sql.graftext.FeatureHashBridge.column(lit("a b a"), 8,
        graft.functions.Hashing.P)).first().getSeq[Long](0)
    assert(v.length == 8 && v.sum == 3L && v.max == 2L)
  }

  test("phraseBigrams: hand-counted collocations, discount drops " +
    "hapax pairs, 1-word docs contribute no bigrams") {
    import spark.implicits._
    val corpus = Seq(
      "new york is big", "new york is old", "big apple", "york")
      .toDF("text")
    val out = TextAnalysis.phraseBigrams(corpus, col("text"), delta = 1L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Long]("score_ppm"))).toMap
    // only pairs with n_ab > delta survive: "new york" (2) and
    // "york is" (2); every other adjacent pair is a hapax
    assert(out.keySet == Set(("new", "york"), ("york", "is")))
    // c(new)=2, c(york)=3 (incl. the 1-word doc), c(is)=2:
    // score = (2-1)*1e6 div max(2,3)
    assert(out(("new", "york")) == ((2L, 2L, 3L, 333333L)))
    assert(out(("york", "is")) == ((2L, 3L, 2L, 333333L)))
    // fixture corpus: every score within [0, 1e6]
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scores = TextAnalysis.phraseBigrams(docs, col("text"))
      .agg(min("score_ppm"), max("score_ppm")).collect().head
    assert(scores.getLong(0) >= 0L && scores.getLong(1) <= 1000000L)
  }

  test("langConfusion reconciles with lang_id row-for-row") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val conf = TextAnalysis.langConfusion(docs, col("lang"), col("text"))
      .collect()
    assert(conf.map(_.getLong(2)).sum == docs.count(),
      "confusion cells must partition the corpus")
    // every cell equals the direct per-doc recount
    val perDoc = docs.select(col("lang"),
        TextAnalysis.langId(col("text")).as("p"))
      .groupBy("lang", "p").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    conf.foreach(r => assert(
      perDoc((r.getString(0), r.getString(1))) == r.getLong(2)))
  }

  test("qualityPpmFrom is the exact integer floor of the rational score") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    import spark.implicits._
    val got = docs.select(col("text"),
        TextAnalysis.qualityPpmFrom(split(col("text"), " ")).as("q"))
      .as[(String, Long)].collect()
    val stop = Set("the", "a", "and", "of", "to", "is", "in")
    got.foreach { case (text, q) =>
      val w = text.split(" ", -1).toSeq
      val expect = (BigInt(w.count(stop) * 300000L) +
        BigInt(w.distinct.size * 700000L)) / w.size
      assert(q == expect.toLong, s"ppm $q != $expect for: $text")
    }
  }

  test("vocabCoverage: parts sum, and full-vocab coverage is total") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cov = TextAnalysis.vocabCoverage(docs, col("lang"), col("text"),
      topN = 100).collect()
    assert(cov.nonEmpty)
    cov.foreach { r =>
      assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("coverage_ppm") + r.getAs[Long]("oov_ppm")
        == 1000000L)
    }
    // a vocabulary bigger than the type count covers every token
    val full = TextAnalysis.vocabCoverage(docs, col("lang"), col("text"),
      topN = 1000000).collect()
    full.foreach(r => assert(r.getAs[Long]("oov_ppm") == 0L,
      s"full vocab left OOV mass: $r"))
  }

  test("qualityLengthBias: rho bounded, and a pure length proxy hits 1.0") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rho = TextAnalysis.qualityLengthBias(docs, col("doc_id"),
      col("text")).collect()(0).getAs[Long]("rho_ppm")
    assert(rho >= -1000000L && rho <= 1000000L)
    // witness frame whose "quality" IS its length: rho must be 1e6
    val proxy = (1L to 50L).map(i => (i, Seq.fill(i.toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val r1 = graft.ext.Profiler.spearmanCorr(
      proxy.select(size(split(col("text"), " ")).cast("long").as("a"),
        size(split(col("text"), " ")).cast("long").as("b"),
        col("doc_id")),
      col("a"), col("b"), Seq(col("doc_id")))
      .collect()(0).getAs[Long]("rho_ppm")
    assert(r1 == 1000000L)
  }

  test("hapaxStats: hand fixture + brute parity on the sf corpus") {
    import spark.implicits._
    // 'x' occurs once globally (in s1), 'a' twice, 'b' twice within
    // one source, 'y' once (in s2): hapax of s1 = {x}, s2 = {y}
    val hand = Seq(("s1", "a x b b"), ("s2", "a y"))
      .toDF("source", "text")
    val got = TextAnalysis.hapaxStats(hand, col("source"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("s1") == ((4L, 3L, 1L, 250000L)))
    assert(got("s2") == ((2L, 2L, 1L, 500000L)))

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = docs.select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val tf = scala.collection.mutable.Map.empty[String, (Long, String)]
    rows.foreach { case (src, text) =>
      text.split(" ", -1).foreach { w =>
        val (c, s0) = tf.getOrElse(w, (0L, src))
        tf(w) = (c + 1, if (c == 0) src else s0)
      }
    }
    val hapBySrc = tf.collect { case (_, (1L, src)) => src }
      .groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    val spark_ = TextAnalysis.hapaxStats(docs, col("source"), col("text"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(spark_ == rows.map(_._1).distinct
      .map(s => s -> hapBySrc.getOrElse(s, 0L)).toMap)
  }

  test("textrank: the co-occurrence hub outranks its spokes; " +
      "driver twin of the weighted rounds") {
    import spark.implicits._
    // star: 'hub' co-occurs with every spoke; spokes only with hub
    val docs = Seq("hub s1", "hub s2", "hub s3", "hub s1")
      .toDF("text")
    val got = TextAnalysis.textrankKeywords(docs, col("text"),
      iters = 3, k = 10)
      .select("word", "wsum", "pr_fp", "rank")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got.head._1 == "hub", s"hub not first: $got")
    assert(got.map(_._4) == (1L to got.size), "ranks not 1..k")
    // driver twin: same fixed-point arithmetic in BigInt
    val edges = Map(("hub", "s1") -> 2L, ("hub", "s2") -> 1L,
      ("hub", "s3") -> 1L)
    val adj = edges.toSeq.flatMap { case ((u, v), w) =>
      Seq((u, v, w), (v, u, w)) }
    val wsum = adj.groupBy(_._1).map { case (n, es) =>
      n -> es.map(_._3).sum }
    val nodes = wsum.keys.toSeq.sorted
    val Scale = BigInt("1000000000000")
    val n = nodes.size
    var pr = nodes.map(_ -> Scale / n).toMap
    for (_ <- 1 to 3) {
      val in = adj.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => pr(e._1) * e._3 / wsum(e._1)).sum }
      pr = nodes.map(nd => nd -> (BigInt(15) * (Scale / n) / 100 +
        BigInt(85) * in.getOrElse(nd, BigInt(0)) / 100)).toMap
    }
    val want = nodes.map(nd => (nd, wsum(nd), pr(nd).toLong))
      .sortBy(r => (-r._3, r._1))
    assert(got.map(r => (r._1, r._2, r._3)) == want,
      s"twin drift: got=$got want=$want")
  }

  test("textrank plan: top-k is a bounded TakeOrdered, never a global sort") {
    val p = SparkEntry.queries("textrank_keywords")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k fell back to full sort + limit: $p")
  }
}
