package graft

import org.apache.spark.sql.functions._

import graft.ext.Multimodal

class MultimodalSpec extends SparkSpec {

  test("frameSample: uniform stride covering frame 0, bounded per doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val target = 8
    val rows = Multimodal.frameSample(docs, target, 4).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (id, fs) =>
      val n = fs.head.getAs[Long]("n_frames")
      val idx = fs.map(_.getAs[Long]("frame_idx")).sorted
      assert(idx.head == 0, s"doc $id must sample frame 0")
      assert(idx.last < n, s"doc $id sampled past its last frame")
      assert(idx.distinct.length == idx.length)
      val step = math.max(1L, n / target)
      assert(idx.zip(idx.tail).forall { case (a, b) => b - a == step },
        s"doc $id stride not uniform")
      assert(fs.length <= 2 * target,
        s"doc $id emitted ${fs.length} frames (> 2x target)")
      fs.foreach(r => assert(
        r.getAs[Long]("ts_ms") == r.getAs[Long]("frame_idx") * 1000 / 4))
    }
  }

  test("mediaDedup: distinct <= count, a planted dup moves dup_ppm") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = Multimodal.mediaDedup(docs).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_media"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("dup_ppm"))).toMap
    assert(base.nonEmpty)
    base.values.foreach { case (n, d, ppm) =>
      assert(d <= n)
      assert(ppm == (BigInt(n - d) * 1000000 / BigInt(n)).toLong)
    }
    // duplicate the whole corpus: every payload now appears twice, so
    // per-format n doubles, distinct stays, dup mass >= 500000 ppm
    val doubled = Multimodal.mediaDedup(
      docs.unionByName(docs)).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_media"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("dup_ppm"))).toMap
    doubled.foreach { case (f, (n, d, ppm)) =>
      assert(n == 2 * base(f)._1 && d == base(f)._2)
      assert(ppm >= 500000L)
    }
  }

  test("audioSegments: hop-strided windows tile the duration, last " +
      "window clips, empty payload still emits one segment") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 320), (2L, "")).toDF("doc_id", "text")
    // doc 1: 320 bytes -> 160 samples -> 10 ms + 1 = 11 ms duration
    // doc 2: 0 bytes -> 1 ms duration
    val got = Multimodal.audioSegments(docs, windowMs = 4, hopMs = 3,
        sampleRate = 16000)
      .orderBy("doc_id", "seg_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._2).forall(_ == 11L))
    assert(d1.map(t => (t._3, t._4, t._5)).toSeq == Seq(
      (0L, 0L, 4L), (1L, 3L, 7L), (2L, 6L, 10L), (3L, 9L, 11L)),
      s"doc 1 segments drifted: ${d1.toSeq}")
    val d2 = got.filter(_._1 == 2L)
    assert(d2.map(t => (t._2, t._3, t._4, t._5)).toSeq ==
      Seq((1L, 0L, 0L, 1L)),
      s"empty payload must emit exactly one clipped segment: ${d2.toSeq}")
  }
}
