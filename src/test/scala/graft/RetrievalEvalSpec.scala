package graft

import graft.ext.RetrievalEval
import org.apache.spark.sql.functions._

/** Label-MRR eval: hand fixture with a known cosine order, the
  * self-exclusion rule, and the no-relevant-document omission. */
class RetrievalEvalSpec extends SparkSpec {
  import spark.implicits._

  // Query 0 (label 1) along e1; its relative (id 2, label 1) at 45°;
  // two closer non-relatives (label 2): id 1 almost-parallel, id 3
  // mid-angle. Exact ranking for query 0: 1 (cos≈.995), 3 (≈.89),
  // 2 (≈.71) → first same-label hit at rank 3.
  private def fixture = Seq(
    (0L, Array(1.0f, 0.0f), 1),
    (1L, Array(0.9f, 0.1f), 2),
    (2L, Array(0.5f, 0.5f), 1),
    (3L, Array(0.8f, 0.4f), 2))
    .toDF("vec_id", "embedding", "label")

  test("first relevant rank and rr_ppm on the known ordering") {
    val got = RetrievalEval.labelMrr(fixture, qMax = 1L)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1, 3L, 333333L)))
  }

  test("a query is never its own relevant document") {
    // every vector a query: self-pairs excluded, so query 2's best
    // relative is 0 (not itself)
    val got = RetrievalEval.labelMrr(fixture, qMax = 4L)
      .as[(Long, Int, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    assert(got.values.forall(_ >= 1L))
  }

  test("cos_histogram: parallel corpus lands in the top bucket, " +
      "mixed-axis corpus splits between orthogonal and parallel") {
    import graft.ext.RetrievalEval
    val parallel = (0L until 40L)
      .map(i => (i, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val h1 = RetrievalEval.cosHistogram(parallel,
        sampleMod = 1, parts = 4, bins = 20)
      .as[(Long, Long)].collect().toMap
    // every adjacent pair is identical: cos = 1 -> clamped top bucket
    assert(h1.keySet == Set(19L), s"unexpected buckets: $h1")
    // pairs = sample - occupied partitions
    assert(h1(19L) > 0 && h1(19L) <= 40L)
    // axis by HALVES, not parity: the mod-4 partitioner (Perms(2).a
    // = 65537 ≡ 1 mod 4) groups ids by id % 4, so a parity-aligned
    // fixture would never pair across axes
    val mixed = (0L until 40L)
      .map(i => (i, if (i < 20) Array(1.0f, 0.0f)
                    else Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val h2 = RetrievalEval.cosHistogram(mixed,
        sampleMod = 1, parts = 4, bins = 20)
      .as[(Long, Long)].collect().toMap
    // pairs are either parallel (bucket 19) or orthogonal (bucket 10)
    assert(h2.keySet.subsetOf(Set(10L, 19L)), s"unexpected: $h2")
    assert(h2.contains(10L), "no orthogonal pair sampled")
    assert(h1.values.sum == h2.values.sum,
      "same sample, same partitioning, same pair count")
  }

  test("cos_histogram excludes zero vectors (no cosine exists)") {
    import graft.ext.RetrievalEval
    val withZero = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f)), (5L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val h = RetrievalEval.cosHistogram(withZero,
        sampleMod = 1, parts = 1, bins = 20)
      .as[(Long, Long)].collect().toMap
    // 5 nonzero vectors in one partition -> exactly 4 pairs, all cos=1
    assert(h == Map(19L -> 4L), s"zero vector leaked: $h")
  }

  test("label_separation: orthogonal classes ~0, parallel ~1e6 with sign") {
    import graft.ext.RetrievalEval
    val emb = ((0L until 10L).map(i => (i, Array(0.5f, 0.0f), 1)) ++
      (10L until 20L).map(i => (i, Array(0.0f, 0.5f), 2)) ++
      (20L until 30L).map(i => (i, Array(-0.5f, 0.0f), 3)))
      .toDF("vec_id", "embedding", "label")
    val got = RetrievalEval.labelSeparation(emb, dim = 2)
      .as[(Int, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.keySet == Set((1, 2), (1, 3), (2, 3)))
    assert(got((1, 2)) == (0L, 0L), s"orthogonal: ${got((1, 2))}")
    assert(got((1, 3))._1 == -1L && got((1, 3))._2 == 1000000L,
      s"antiparallel: ${got((1, 3))}")
    assert(got((2, 3)) == (0L, 0L))
  }

  test("label_separation: zero-norm centroid gets the NULL sentinel") {
    import graft.ext.RetrievalEval
    val emb = ((0L until 4L).map(i => (i, Array(0.5f, 0.0f), 1)) ++
      Seq((4L, Array(0.3f, 0.0f), 2), (5L, Array(-0.3f, 0.0f), 2)))
      .toDF("vec_id", "embedding", "label")
    val row = RetrievalEval.labelSeparation(emb, dim = 2).head()
    assert(row.isNullAt(row.fieldIndex("cos2_ppm")),
      "zero-norm centroid must yield NULL, not a crash or a number")
  }

  test("recall@k on the known ordering: hit inside the cutoff " +
      "counts, outside does not, zero-hit rows survive") {
    // query 0's only relative sits at rank 3 (fixture comment above)
    val at3 = RetrievalEval.labelRecallAtK(fixture, qMax = 1L, k = 3)
      .as[(Long, Int, Long, Long, Long)].collect().toSeq
    assert(at3 == Seq((0L, 1, 1L, 1L, 1000000L)))
    val at2 = RetrievalEval.labelRecallAtK(fixture, qMax = 1L, k = 2)
      .as[(Long, Int, Long, Long, Long)].collect().toSeq
    assert(at2 == Seq((0L, 1, 1L, 0L, 0L)),
      "zero-hit query must keep its row with recall 0")
  }

  test("nDCG@k: relevant at rank 3 earns the rank-3 discount " +
      "against an ideal of one hit at rank 1") {
    val got = RetrievalEval.labelNdcgAtK(fixture, qMax = 1L, k = 3)
      .as[(Long, Int, Long, Long, Long, Long)].collect().toSeq
    // w(3) = round(1e6/log2(4)) = 500000; idcg = w(1) = 1e6
    assert(got == Seq((0L, 1, 1L, 500000L, 1000000L, 500000L)))
    val miss = RetrievalEval.labelNdcgAtK(fixture, qMax = 1L, k = 2)
      .as[(Long, Int, Long, Long, Long, Long)].collect().toSeq
    assert(miss == Seq((0L, 1, 1L, 0L, 1000000L, 0L)))
  }

  test("AP@k: truncating precision at the hit rank, averaged over " +
      "the achievable hit count") {
    val got = RetrievalEval.labelApAtK(fixture, qMax = 1L, k = 3)
      .as[(Long, Int, Long, Long)].collect().toSeq
    // one hit at rank 3, cum=1: term = 1e6 DIV 3 = 333333; n_rel=1
    assert(got == Seq((0L, 1, 1L, 333333L)))
  }

  test("@k metrics: a perfect ranking scores 1e6 across all three") {
    // query 0's relatives are both nearer than every non-relative
    val perfect = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.01f), 1),
      (2L, Array(0.98f, 0.02f), 1),
      (3L, Array(0.0f, 1.0f), 2),
      (4L, Array(0.01f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val r = RetrievalEval.labelRecallAtK(perfect, qMax = 1L, k = 3)
      .select("recall_ppm").as[Long].head()
    assert(r == 1000000L)
    val n = RetrievalEval.labelNdcgAtK(perfect, qMax = 1L, k = 3)
      .select("ndcg_ppm").as[Long].head()
    assert(n == 1000000L)
    // hits at ranks 1,2: terms 1e6, 1e6 -> sum 2e6 DIV n_rel 2 = 1e6
    val a = RetrievalEval.labelApAtK(perfect, qMax = 1L, k = 3)
      .select("ap_ppm").as[Long].head()
    assert(a == 1000000L)
  }

  test("summary == DIV-means of the three per-query tables, one row") {
    val r = RetrievalEval.labelRecallAtK(fixture, qMax = 3L, k = 3)
      .select("recall_ppm").as[Long].collect()
    val n = RetrievalEval.labelNdcgAtK(fixture, qMax = 3L, k = 3)
      .select("ndcg_ppm").as[Long].collect()
    val a = RetrievalEval.labelApAtK(fixture, qMax = 3L, k = 3)
      .select("ap_ppm").as[Long].collect()
    val got = RetrievalEval.labelEvalSummary(fixture, qMax = 3L, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((r.length.toLong, r.sum / r.length,
      n.sum / n.length, a.sum / a.length)),
      s"macro roll-up drifted from the per-query family: $got")
  }

  test("by-label eval == per-label DIV-means of the per-query " +
      "tables; a planted weak label separates from a strong one") {
    // perfect label 1 (three parallel vectors) + weak label 2 (its
    // two members orthogonal to each other, near label 1's axis)
    val mix = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.01f), 1),
      (2L, Array(0.98f, 0.02f), 1),
      (3L, Array(0.97f, 0.03f), 2),
      (4L, Array(0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = RetrievalEval.labelEvalByLabel(mix, qMax = 5L, k = 3)
      .orderBy("label")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    val perq = RetrievalEval.labelRecallAtK(mix, qMax = 5L, k = 3)
      .select("label", "recall_ppm").as[(Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    got.foreach { case (l, n, rec, _, _) =>
      assert(n == perq(l).length.toLong)
      assert(rec == perq(l).sum / perq(l).length,
        s"label $l recall macro drifted")
    }
    val byLabel = got.map(r => r._1 -> r._3).toMap
    assert(byLabel(1) == 1000000L,
      s"perfect label must score 1e6: $byLabel")
    assert(byLabel(2) < byLabel(1),
      s"weak label must separate below the strong one: $byLabel")
  }

  test("@k metrics inherit the singleton-label exclusion") {
    val singleton = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(0.9f, 0.1f), 2),
      (2L, Array(0.5f, 0.5f), 2))
      .toDF("vec_id", "embedding", "label")
    assert(RetrievalEval.labelRecallAtK(singleton, qMax = 3L, k = 2)
      .select("query_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(RetrievalEval.labelNdcgAtK(singleton, qMax = 3L, k = 2)
      .select("query_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(RetrievalEval.labelApAtK(singleton, qMax = 3L, k = 2)
      .select("query_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("a label singleton emits no row (no relevant document exists)") {
    val singleton = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(0.9f, 0.1f), 2),
      (2L, Array(0.5f, 0.5f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = RetrievalEval.labelMrr(singleton, qMax = 3L)
      .select("query_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L), s"singleton leaked: $got")
  }

  test("hardNegatives: only wrong-label candidates, ordered by cosine; " +
      "a wrong-label duplicate vector mines at neg_rank 1, global_rank 1") {
    // id 4 duplicates query 0's direction exactly but carries label 2:
    // the canonical hard negative — nearest candidate overall AND wrong
    val withDup = fixture.union(Seq((4L, Array(2.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label"))
    val got = RetrievalEval.hardNegatives(withDup, qMax = 1L, k = 3)
      .as[(Long, Int, Long, Int, Double, Long, Long)].collect().toSeq
    assert(got.forall(_._4 != got.head._2), "a same-label row leaked in")
    assert(got.map(_._7) == Seq(1L, 2L, 3L), "neg_rank not dense")
    assert(got.head._3 == 4L && got.head._6 == 1L,
      "the duplicate-direction impostor must mine first")
    // negatives ordered by descending cosine
    assert(got.map(_._5) == got.map(_._5).sorted.reverse)
  }

  test("tripletMining: flags read the margin band; singleton labels " +
      "emit no row") {
    // query 0 (label 1): hardest positive = id 2 (cos≈.707); hardest
    // negative = id 1 (cos≈.995) > pos → violating, NOT semi-hard
    // (negative is past the positive, not inside the band)
    val got = RetrievalEval.tripletMining(fixture, qMax = 1L,
        marginMilli = 50)
      .as[(Long, Int, Double, Double, Long, Long)].collect().toSeq
    assert(got.size == 1)
    val r = got.head
    assert(r._3 < r._4, "fixture: negative should beat positive")
    assert(r._5 == 1L && r._6 == 0L,
      "past-the-positive negative must be violating but not semi-hard")
    // singleton label → no positive → no row
    val singleton = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(0.9f, 0.1f), 2),
      (2L, Array(0.5f, 0.5f), 2)).toDF("vec_id", "embedding", "label")
    assert(RetrievalEval.tripletMining(singleton, qMax = 1L,
      marginMilli = 50).isEmpty, "anchor with no positive leaked")
  }
}
