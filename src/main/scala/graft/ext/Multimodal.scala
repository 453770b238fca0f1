package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (extension surface, SURVEY §7.6).
  *
  * Image/audio/video payloads are opaque `binary` columns with typed
  * metadata. The synthetic corpus carries UTF-8 text payloads, so
  * every operator here derives its media metadata deterministically
  * from the payload bytes ([[featuresExpr]]: format and dimensions
  * from the byte length), which keeps the end-to-end pipeline
  * runnable on text-only fixtures and oracle-checkable. Full-pixel
  * decode is out of scope; the Spark-side shape — binary column
  * schema, per-frame and per-segment work lists, content-hash dedup —
  * is real and tested.
  */
object Multimodal {

  /** Attach a binary payload column. In production this is the raw
    * image/audio bytes column of the table; here it is derived from
    * text so the pipeline is runnable end-to-end. */
  def withPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", encode(col("text"), "UTF-8"))

  /** Deterministic stand-in media metadata for the text-derived
    * payload — byte count, format, width and height from the payload
    * length — as pure column ops (DuckDB-expressible, oracle-checked
    * by [[featuresOracleSql]]). */
  def featuresExpr(docs: DataFrame): DataFrame = {
    val n = octet_length(encode(col("text"), "UTF-8")).cast("long")
    docs.select(col("doc_id"),
      n.as("n_bytes"),
      // no otherwise: a null payload has null format (the old
      // .otherwise("png") labeled missing media as png)
      when(n % 2 === 0, "jpeg").when(n.isNotNull, "png").as("format"),
      (lit(64L) + n % 640L).as("width"),
      (lit(64L) + n % 480L).as("height"))
  }

  val featuresOracleSql: String =
    """
    |SELECT doc_id,
    |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
    |  CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'jpeg'
    |       WHEN octet_length(encode(text)) IS NOT NULL THEN 'png' END AS format,
    |  64 + CAST(octet_length(encode(text)) AS BIGINT) % 640 AS width,
    |  64 + CAST(octet_length(encode(text)) AS BIGINT) % 480 AS height
    |FROM documents ORDER BY doc_id
    |""".stripMargin.trim

  /** Video frame-sampling manifest: for each media row, the uniform
    * stride sample of its frames — one output row per (doc, sampled
    * frame) with the frame index and its millisecond timestamp. This
    * is the step that turns a video column into the per-frame work
    * list a decode/caption/embed stage consumes; the MANIFEST is the
    * Spark-side plumbing and is exact.
    *
    * `n_frames` comes from container metadata in production; here it
    * derives from payload length so the op runs end-to-end. Stride =
    * max(1, n_frames div targetFrames) — at most ~2·targetFrames rows
    * per doc, never fewer than 1.
    *
    * Scale shape: `sequence` + `explode` is a generator projection —
    * no shuffle, no join, output bounded by targetFrames per row.
    * All arithmetic is int64 (div/mod), engine-portable. */
  def frameSample(docs: DataFrame, targetFrames: Int,
                  fps: Int): DataFrame = {
    require(targetFrames > 0, s"targetFrames must be positive: $targetFrames")
    require(fps > 0, s"fps must be positive: $fps")
    val nFrames = expr(
      "CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT) div 16 + 1")
    val step = greatest(lit(1L), expr(s"n_frames div $targetFrames"))
    docs.select(col("doc_id"), nFrames.as("n_frames"))
      .withColumn("frame_idx",
        explode(sequence(lit(0L), col("n_frames") - 1, step)))
      .withColumn("ts_ms", expr(s"frame_idx * 1000 div $fps"))
  }

  def frameSampleOracleSql(targetFrames: Int, fps: Int): String =
    s"""
    |WITH m AS (
    |  SELECT doc_id,
    |    CAST(octet_length(encode(text)) AS BIGINT) // 16 + 1 AS n_frames
    |  FROM documents),
    |f AS (
    |  SELECT doc_id, n_frames,
    |    unnest(range(0, n_frames,
    |      greatest(1, n_frames // $targetFrames))) AS frame_idx
    |  FROM m)
    |SELECT doc_id, n_frames, CAST(frame_idx AS BIGINT) AS frame_idx,
    |  frame_idx * 1000 // $fps AS ts_ms
    |FROM f ORDER BY doc_id, frame_idx
    |""".stripMargin.trim

  /** Asset-level exact dedup audit, per sniffed format: how much of
    * the media column is byte-identical payloads — the number that
    * decides whether a content-hash dedup pass pays for itself BEFORE
    * any decode work is scheduled (dup frames/images are the single
    * biggest decode-cost saving in web-scale multimodal ingest).
    * Hash = md5 over the payload bytes; per format: payload count,
    * distinct-hash count, total bytes, and dup mass in ppm. One
    * projection + one format-keyed aggregate — the hash shuffles
    * |formats| groups of partial aggregates, never the payloads. */
  def mediaDedup(docs: DataFrame): DataFrame = {
    val n = octet_length(encode(col("text"), "UTF-8")).cast("long")
    withPayload(docs)
      .select(
        when(n % 2 === 0, "jpeg").when(n.isNotNull, "png").as("format"),
        md5(col("payload")).as("__h"),
        n.as("__bytes"))
      .groupBy(col("format"))
      .agg(count(lit(1)).cast("long").as("n_media"),
        countDistinct(col("__h")).cast("long").as("n_distinct"),
        sum(col("__bytes")).cast("long").as("total_bytes"))
      .withColumn("dup_ppm", expr(
        "(cast(n_media - n_distinct as decimal(38,0)) * 1000000) " +
          "div n_media").cast("long"))
  }

  /** Audio segmentation manifest — the ASR-prep shape ([[frameSample]]
    * is video's; this is audio's): fixed `windowMs` windows at
    * `hopMs` stride over each asset's duration, emitted as
    * `(doc_id, duration_ms, seg_idx, start_ms, end_ms)` rows a
    * transcription/feature stage consumes (Whisper-style 30 s
    * windows with overlap are `windowMs=30000, hopMs=25000`). The
    * last window clips to the asset (`end_ms = least(start+window,
    * duration)`); every asset emits at least one segment.
    *
    * Duration derives from the payload by the declared synthetic
    * mapping (bytes DIV 2 = 16-bit mono samples at `sampleRate`,
    * +1 ms so an empty payload still has a manifest row) — in
    * production the decoded metadata column replaces that one
    * expression and NOTHING downstream changes. Scale shape: a
    * generator projection (`sequence` + `explode`) — no shuffle, no
    * join, ≤ duration/hop rows per asset. All int64 arithmetic. */
  def audioSegments(docs: DataFrame, windowMs: Int, hopMs: Int,
                    sampleRate: Int): DataFrame = {
    require(windowMs > 0 && hopMs > 0 && hopMs <= windowMs,
      s"need 0 < hopMs <= windowMs, got hop=$hopMs window=$windowMs")
    require(sampleRate > 0, s"sampleRate must be positive: $sampleRate")
    val durationMs = expr(
      "CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT) div 2 " +
        s"* 1000 div $sampleRate + 1")
    docs.select(col("doc_id"), durationMs.as("duration_ms"))
      .withColumn("start_ms",
        explode(sequence(lit(0L), col("duration_ms") - 1,
          lit(hopMs.toLong))))
      .select(col("doc_id"), col("duration_ms"),
        expr(s"start_ms DIV $hopMs").as("seg_idx"),
        col("start_ms"),
        least(col("start_ms") + windowMs, col("duration_ms"))
          .as("end_ms"))
  }

  /** DuckDB twin of [[audioSegments]]. */
  def audioSegmentsOracleSql(windowMs: Int, hopMs: Int,
                             sampleRate: Int): String =
    s"""
    |WITH m AS (
    |  SELECT doc_id,
    |    CAST(octet_length(encode(text)) AS BIGINT) // 2
    |      * 1000 // $sampleRate + 1 AS duration_ms
    |  FROM documents),
    |s AS (
    |  SELECT doc_id, duration_ms,
    |    unnest(range(0, duration_ms, $hopMs)) AS start_ms
    |  FROM m)
    |SELECT doc_id, duration_ms,
    |  CAST(start_ms // $hopMs AS BIGINT) AS seg_idx,
    |  CAST(start_ms AS BIGINT) AS start_ms,
    |  CAST(least(start_ms + $windowMs, duration_ms) AS BIGINT) AS end_ms
    |FROM s ORDER BY doc_id, seg_idx
    |""".stripMargin.trim

  /** DuckDB twin of [[mediaDedup]] over `documents` (md5 of the
    * UTF-8 payload bytes is md5 of the text on both engines). */
  val mediaDedupOracleSql: String =
    """
    |WITH m AS (
    |  SELECT CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'jpeg'
    |              WHEN octet_length(encode(text)) IS NOT NULL
    |                THEN 'png' END AS format,
    |    md5(text) AS h,
    |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    |  FROM documents)
    |SELECT format, CAST(count(*) AS BIGINT) AS n_media,
    |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
    |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
    |  CAST((CAST(count(*) AS HUGEINT) - count(DISTINCT h)) * 1000000
    |       // count(*) AS BIGINT) AS dup_ppm
    |FROM m GROUP BY format ORDER BY format
    |""".stripMargin.trim
}
