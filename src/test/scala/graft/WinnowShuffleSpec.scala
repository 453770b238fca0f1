package graft

import org.apache.spark.sql.functions._

import graft.ext.{Corpus, Dedup}

class WinnowShuffleSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("winnowing guarantee: a shared run of w+k-1 words shares a fp") {
    // two docs sharing an 8-word run (k=5, w=4 -> guarantee length 8)
    // embedded in otherwise-distinct text
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight nine ten $shared eleven twelve")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowedFingerprints(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "guaranteed shared fingerprint missing")
  }

  test("compiled winnow kernel is bit-identical to the HOF formulation") {
    val kern = Dedup.winnowedFingerprints(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("n_grams"), col("fps"))
    val hof = Dedup.winnowedFingerprintsHof(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("n_grams"), col("fps"))
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)
    // and on pathological shapes: empty text, single word, exact-w
    // gram stream, unicode beyond the BMP
    val edge = Seq((1L, ""), (2L, "one"), (3L, "a b c d e f g h"),
      (4L, "x 😀 y z w q 😁 t"),
      (5L, "a a a a a a a a a a")).toDF("doc_id", "text")
    val ek = Dedup.winnowedFingerprints(edge, col("doc_id"), col("text"))
    val eh = Dedup.winnowedFingerprintsHof(edge, col("doc_id"), col("text"))
    assert(ek.exceptAll(eh).isEmpty && eh.exceptAll(ek).isEmpty)
    // the kernel column: fewer than k tokens -> NULL (the row the
    // filter drops); 8 words -> a non-empty set of distinct values
    val raw = Seq("a b", "a b c d e f g h").toDF("text").select(
      org.apache.spark.sql.graftext.WinnowBridge.column(col("text"), 5, 4,
        graft.functions.Hashing.P)).collect()
    assert(raw(0).isNullAt(0))
    val fps = raw(1).getSeq[Long](0)
    assert(fps.nonEmpty && fps.toSet.size == fps.length)
  }

  test("winnowing density is ~2/(w+1) and never above full gram count") {
    val st = Dedup.winnowStats(docs, col("doc_id"), col("text"))
      .agg(sum("n_fps").cast("double"), sum("n_grams").cast("double"))
      .collect()(0)
    val density = st.getDouble(0) / st.getDouble(1)
    // w=4 -> expected ~0.4 on random hashes; generous envelope
    assert(density > 0.2 && density < 0.7, s"density $density")
  }

  test("winnowOverlapPairs is a subset of full-gram-overlap pairs") {
    val pairs = Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"),
      minShared = 1, maxDf = 1000000).select("d1", "d2")
    // every winnowed fp is a gram hash, so any winnow-pair must share
    // at least one distinct 5-gram
    val grams = Dedup.explodedGrams(docs, col("doc_id"), col("text"), 5)
    val gramPairs = grams.as("a").join(grams.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    assert(pairs.exceptAll(pairs.intersect(gramPairs)).isEmpty,
      "winnow pair without any shared gram")
  }

  test("incremental winnow overlap = full overlap restricted to new d2") {
    val full = Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"))
      .filter(col("d2") >= 300L)
    val inc = Dedup.winnowOverlapIncremental(docs, col("doc_id"),
      col("text"), newFrom = 300L)
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
  }

  test("epochShuffle is an exact permutation with consistent positions") {
    val n = docs.count()
    val sh = Corpus.epochShuffle(docs, col("doc_id"), nShards = 8)
    assert(sh.count() == n)
    // global_pos is exactly 0..n-1
    val posCheck = sh.agg(min("global_pos"), max("global_pos"),
      countDistinct("global_pos")).collect()(0)
    assert(posCheck.getLong(0) == 0L && posCheck.getLong(1) == n - 1 &&
      posCheck.getLong(2) == n)
    // shard offsets: global order sorted by (shard, shard_pos)
    val mismatch = sh.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("shard"), col("shard_pos"))).cast("long") - 1)
      .filter(col("rk") =!= col("global_pos")).count()
    assert(mismatch == 0L)
  }

  test("epochShuffle: epochs reorder, reruns do not") {
    val e0 = Corpus.epochShuffle(docs, col("doc_id"), 8, epoch = 0)
      .select("doc_id", "global_pos")
    val e0b = Corpus.epochShuffle(docs, col("doc_id"), 8, epoch = 0)
      .select("doc_id", "global_pos")
    val e1 = Corpus.epochShuffle(docs, col("doc_id"), 8, epoch = 1)
      .select("doc_id", "global_pos")
    assert(e0.exceptAll(e0b).isEmpty, "same epoch must be identical")
    assert(e0.exceptAll(e1).count() > 0, "epochs must differ")
  }

  test("epochShuffle shards are balanced within 3x of each other") {
    val counts = Corpus.epochShuffle(docs, col("doc_id"), 8)
      .groupBy("shard").count().collect().map(_.getLong(1))
    assert(counts.length == 8)
    assert(counts.max < 3L * counts.min,
      s"shard skew: ${counts.mkString(",")}")
  }
}
