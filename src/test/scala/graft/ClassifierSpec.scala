package graft

import org.apache.spark.sql.functions._

import graft.ext.Classifier

class ClassifierSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("lrStep0: gradient matches a driver-side integer recomputation") {
    val got = Classifier.lrStep0(docs, col("text"),
        col("lang") === "en")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = docs.select("text", "lang").collect()
    val stops = graft.ext.TextAnalysis.Markers.head._2.toSet
    val expected = Array.fill(5)(0L)
    rows.foreach { r =>
      val (text, lang) = (r.getString(0), r.getString(1))
      val w = text.split(" ", -1)
      val y2 = if (lang == "en") -1L else 1L
      val xs = Array(1L, w.length.toLong, text.length.toLong,
        w.count(stops).toLong, w.distinct.length.toLong)
      for (i <- 0 until 5) expected(i) += y2 * xs(i)
    }
    val names = Classifier.FeatureNames
    for (i <- 0 until 5)
      assert(got(names(i)) == expected(i),
        s"${names(i)}: ${got(names(i))} != ${expected(i)}")
    assert(got.size == 5)
  }

  test("scoreFixed: pred = sign of logit, monotone with sigmoid scoring") {
    val fixed = Classifier.scoreFixed(docs, col("doc_id"), col("text"))
    val bad = fixed.filter(
      (col("logit") > 0.0 && col("pred") =!= 1L) ||
        (col("logit") <= 0.0 && col("pred") =!= 0L)).count()
    assert(bad == 0)
    // σ(w·x) under the same weights crosses ½ exactly where the
    // logit crosses 0 (the declared pred threshold)
    val sig = Classifier.scoreWith(docs, col("doc_id"), col("text"),
      Classifier.FixedScoreWeights.toArray)
    val disagree = fixed.join(sig, "doc_id")
      .filter((col("lr_score") > 0.5) =!= (col("pred") === 1L)).count()
    assert(disagree == 0, "sigmoid threshold must match pred")
  }

  test("qualityAgreement: cells partition the corpus, cell membership " +
    "matches the two signals computed independently") {
    import spark.implicits._
    import graft.ext.{Classifier, TextAnalysis}
    // mix fixture docs (one cell) with constructed docs engineered to
    // differ: a long stop-word-rich doc (gopher keep AND LR keep —
    // the 4.0 stop_ratio weight dominates) vs a short distinct-heavy
    // doc (gopher-rejected by the 50-word minimum AND LR-negative:
    // its logit ≈ -1.5 + 0.05 - 0.5 < 0) — different cells by both
    // coordinates
    val gopherFriendly = (("the be to of and that have with " * 8) +
      ("value table scan " * 10)).trim
    val shortDistinct = "alpha beta gamma delta epsilon zeta"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((100001L, gopherFriendly),
        (100002L, shortDistinct)).toDF("doc_id", "text"))
    val cells = Classifier.qualityAgreement(docs, col("doc_id"),
        col("text")).collect()
      .map(r => (r.getAs[Long]("gopher_keep"), r.getAs[Long]("lr_keep")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    assert(cells.size >= 2, s"constructed docs should split cells: $cells")
    assert(cells.values.map(_._1).sum == docs.count())
    // recompute both signals independently and check one constructed doc
    val g = TextAnalysis.gopherRules(docs, col("doc_id"), col("text"))
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l = Classifier.scoreFixed(docs, col("doc_id"), col("text"))
      .select("doc_id", "pred").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cellOf = (id: Long) => (g(id), l(id))
    Seq(100001L, 100002L).foreach { id =>
      assert(cells.contains(cellOf(id)),
        s"doc $id's independently-computed cell missing from matrix")
    }
    assert(cellOf(100001L) != cellOf(100002L),
      "constructed docs should land in different cells")
  }
  test("qualityCalibration bands partition the corpus exactly") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cal = ext.Classifier.qualityCalibration(docs, col("doc_id"),
      col("text"), col("lang") === "en").collect()
    assert(cal.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "band doc counts must sum to the corpus")
    cal.foreach { r =>
      val band = r.getAs[Long]("band")
      assert(band >= -8 && band <= 8, s"band $band outside clamp")
      val ppm = r.getAs[Long]("target_ppm")
      assert(ppm >= 0 && ppm <= 1000000, s"ppm $ppm out of range")
      assert(r.getAs[Long]("n_target") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_pred_pos") <= r.getAs[Long]("n_docs"))
    }
  }
}
