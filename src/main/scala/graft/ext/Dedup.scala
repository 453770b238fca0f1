package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.schema.Tables

/** Document deduplication for large-scale training-data pipelines:
  * exact (canonical-key groupBy), MinHash+LSH, SimHash (hamming LSH),
  * and n-gram Jaccard verification. No reference analog (extension
  * surface, SURVEY §7.6); designs follow Broder (1997) resemblance /
  * Charikar (2002) simhash as implemented in every large text corpus
  * pipeline.
  *
  * Scale posture: every path is explode → hash → groupBy/band-join —
  * shuffles partition on doc or band keys, never a quadratic all-pairs
  * comparison. Candidate verification only touches pairs that collide
  * in a band, so cost tracks true-duplicate density, not corpus².
  */
object Dedup {

  /** Pin an explicit-N hash repartition on the streamed side of a
    * pair-generating join. Candidate joins here have TINY inputs
    * (band/bucket tables, a few MB) but huge outputs (bucket-local
    * pair expansion) — AQE's shuffle coalescing sizes partitions by
    * INPUT bytes, so it folds the small shuffle to one partition and
    * the quadratic pair generation runs single-threaded. An explicit
    * partition count is exempt from coalescing; keyed on the join
    * keys it also satisfies the join's distribution requirement, so
    * no extra exchange appears. */
  private[graft] def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      keys: _*)

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** Canonical word-set key: sorted distinct tokens re-joined. Exact
    * dedup on this key catches word-permutation duplicates; on raw
    * `text` it is byte-exact dedup. */
  def wordSetKey(text: Column): Column =
    array_join(array_sort(array_distinct(words(text))), " ")

  val wordSetKeySql: String =
    "array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')"

  /** Exact dedup groups: key → (representative = min id, group size).
    * One hash-shuffle on the key; map-side partial aggregation. */
  def exactGroups(docs: DataFrame, key: Column, id: Column): DataFrame =
    docs.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Word n-grams (shingles) from a pre-split words array `w`.
    *
    * ⚠ `w` must be a bound attribute (a projected column), not the
    * `split(...)` expression itself: this expression references `w`
    * once per gram element, and Catalyst inlines expression arguments
    * — passing `words(text)` directly would re-split the whole
    * document O(grams·n) times (observed 10× on the minhash bench).
    * CollapseProject keeps a multiply-referenced *alias* boundary, so
    * a `select(words(text).as("w"))` step evaluates the split once
    * per row. */
  def wordGramsFrom(w: Column, n: Int): Column = {
    val gram = (i: Column) =>
      concat_ws(" ", (0 until n).map(k => element_at(w, i + lit(k))): _*)
    when(size(w) >= n, transform(sequence(lit(1), size(w) - lit(n - 1)), gram))
      .otherwise(array().cast("array<string>"))
  }

  /** (doc_id, gram) pairs, one row per distinct shingle — the shared
    * front of the minhash and jaccard pipelines, with the
    * split-once-per-doc projection boundary. */
  def explodedGrams(docs: DataFrame, id: Column, text: Column,
                    n: Int): DataFrame =
    docs.select(id.as("doc_id"), words(text).as("__w"))
      .select(col("doc_id"),
        explode(array_distinct(wordGramsFrom(col("__w"), n))).as("gram"))

  /** DuckDB twin of [[wordGramsFrom]] over the words of `text`, as a
    * SQL expression. */
  def wordGramsSql(n: Int): String = {
    val parts = (1 to n).map(k => s"w[i + $k]").mkString(" || ' ' || ")
    s"list_transform(range(greatest(len(str_split(text, ' ')) - ${n - 1}, 0)), " +
      s"i -> $parts)"
  }

  // ---------------------------------------------------------------
  // Duplicated-span (chunk) statistics — the scalable form of exact
  // substring dedup (Lee et al. 2022, "Deduplicating Training Data
  // Makes Language Models Better": scrub repeated long token spans).
  // ---------------------------------------------------------------

  /** Per-document duplicated-span statistics. Documents are tiled
    * into NON-overlapping `k`-word chunks; a chunk occurring ≥2 times
    * corpus-wide (in any document, including repeats within its own)
    * is a duplicated span. Output per doc (docs shorter than `k`
    * words have no tiles and no row): `n_words`, `n_chunks`,
    * `dup_chunks`, `kept_tokens` (what a scrub dropping every
    * duplicated tile keeps: unique tiles + the sub-tile tail), and
    * `dup_ratio` (rounded to 6dp; a single int64→double division is
    * exactly rounded on both engines).
    *
    * Tiling (not a sliding window) keeps the exploded relation at
    * |corpus|/k ≈ one row per k tokens — the property that makes this
    * affordable at 100 TB where the suffix-array formulation of Lee
    * et al. is not. The boundary cost is bounded: any duplicated span
    * of length ≥ 2k−1 tokens contains at least one duplicated tile,
    * so k trades detection granularity for relation size.
    *
    * Shape: tile → 64-bit chunk hash ([[Hashing.polyHash]], codegen)
    * → occurrence counts as a `count over (partition by h)` window →
    * per-doc hash agg. The window form makes the corpus-wide count a
    * SINGLE pass over a single shuffle on `h`: the equivalent
    * agg-then-self-join evaluates the explode+hash subtree twice
    * (Spark reuses exchanges, not identical subtrees; measured 2× at
    * the 100× corpus) or forces a checkpoint whose storage blocks
    * accumulate across runs. Never all-pairs, and no chunk STRING
    * survives past the hash projection. */
  def chunkDupStats(docs: DataFrame, id: Column, text: Column,
                    k: Int): DataFrame = {
    require(k >= 1, "chunk size must be positive")
    // __w is a projected alias so the split runs once per row (see
    // wordGramsFrom's inlining warning)
    val tiled = docs.select(id.as("doc_id"), words(text).as("__w"))
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("__nw"),
        floor(size(col("__w")) / k).cast("int").as("__nc"), col("__w"))
      .filter(col("__nc") >= 1)
      .select(col("doc_id"), col("__nw"),
        explode(transform(sequence(lit(0), col("__nc") - 1),
          i => array_join(slice(col("__w"), i * k + 1, lit(k)), " ")))
          .as("__chunk"))
      .select(col("doc_id"), col("__nw"),
        Hashing.polyHash(col("__chunk")).as("h"))
    tiled.withColumn("__cnt", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy(col("doc_id"))
      .agg(max(col("__nw")).as("n_words"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("__cnt") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
      .withColumn("kept_tokens",
        (col("n_chunks") - col("dup_chunks")) * k +
          (col("n_words") - col("n_chunks") * k))
      .withColumn("dup_ratio",
        round(col("dup_chunks") / col("n_chunks"), 6))
  }

  /** DuckDB oracle for [[chunkDupStats]] over `documents`. Sums cast
    * back to BIGINT (DuckDB promotes to HUGEINT); the ratio is the
    * same single int64→double division. */
  def chunkDupStatsOracleSql(k: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
    |                CAST(len(w) // $k AS BIGINT) AS nc, w
    |         FROM w WHERE len(w) >= $k),
    |chunks AS (
    |  SELECT doc_id, n_words,
    |         array_to_string(list_slice(w, i*$k + 1, i*$k + $k), ' ') AS chunk
    |  FROM (SELECT doc_id, n_words, w, unnest(range(nc)) AS i FROM base)),
    |hashed AS (SELECT doc_id, n_words,
    |                  ${Hashing.polyHashSql("chunk")} AS h FROM chunks),
    |cnt AS (SELECT h, count(*) AS c FROM hashed GROUP BY h),
    |per AS (SELECT doc_id, max(n_words) AS n_words,
    |          CAST(count(*) AS BIGINT) AS n_chunks,
    |          CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
    |        FROM hashed JOIN cnt USING (h) GROUP BY doc_id)
    |SELECT doc_id, n_words, n_chunks, dup_chunks,
    |  (n_chunks - dup_chunks)*$k + (n_words - n_chunks*$k) AS kept_tokens,
    |  round(dup_chunks / n_chunks, 6) AS dup_ratio
    |FROM per ORDER BY doc_id
    |""".stripMargin.trim

  /** Tile-position encoding for [[chunkScrub]]'s canonical-occurrence
    * tie-break: `doc_id * 2^20 + tile_index` as one BIGINT, so both
    * engines pick the winner with a plain `min` (no struct-ordering
    * semantics to align). Bounds: docs up to 2^20 tiles (≥ 5M words at
    * k=5) and doc ids up to 2^43 — beyond that, switch the Spark side
    * to `min(struct(doc_id, i))` and the oracle to `min_by`. */
  private val ChunkPosEnc = 1L << 20

  /** Duplicated-span SCRUB — the action [[chunkDupStats]] measures.
    * Re-emits every document with duplicated `k`-word tiles removed,
    * keeping exactly ONE canonical instance per duplicated tile
    * corpus-wide (the instance with the smallest (doc_id, tile index),
    * so output is deterministic and first-occurrence-wins, as in Lee
    * et al. 2022's scrub). The sub-tile tail of each document is
    * always kept; documents shorter than `k` words pass through
    * unchanged. Output: `doc_id`, `n_dropped` (tiles removed),
    * `scrubbed` (the cleaned text, single-space normalized).
    *
    * Shape: same single-pass `h`-partitioned window as the stats
    * variant (count + canonical-min in one window), plus a per-doc
    * `collect_list` of the KEPT tiles — grouped by doc_id, so state
    * per group is one document's worth of text (the output row
    * itself), never a corpus-scale buffer. */
  def chunkScrub(docs: DataFrame, id: Column, text: Column,
                 k: Int, exact: Boolean = false): DataFrame = {
    require(k >= 1, "chunk size must be positive")
    val base = docs.select(id.as("doc_id"), text.as("__t"),
        words(text).as("__w"))
      .select(col("doc_id"), col("__t"),
        size(col("__w")).cast("long").as("__nw"),
        floor(size(col("__w")) / k).cast("long").as("__nc"), col("__w"))
    val inst = base.filter(col("__nc") >= 1)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (col("__nc") - 1).cast("int")),
          i => array_join(slice(col("__w"), i * k + 1, lit(k)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col").as("__chunk"))
      .withColumn("h", Hashing.polyHash(col("__chunk")))
    // exact=true keys the duplicate groups on the TILE STRING (h kept
    // in the key as a cheap comparison prefix): a polyhash collision
    // then lands in its own group and is never scrubbed — the
    // verified variant dup_span_exact motivates (see chunkDupExact)
    val win = if (exact) Window.partitionBy("h", "__chunk")
              else Window.partitionBy("h")
    val perDoc = inst
      .withColumn("__cnt", count(lit(1)).over(win))
      .withColumn("__first",
        min(col("doc_id") * ChunkPosEnc + col("i")).over(win))
      .filter(col("__cnt") === 1 ||
        col("doc_id") * ChunkPosEnc + col("i") === col("__first"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("i"), col("__chunk")))),
          s => s.getField("__chunk")), " ").as("__ks"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("__nc") - coalesce(col("__kept"), lit(0L))).as("n_dropped"),
        when(col("__nc") === 0, col("__t")).otherwise(concat_ws(" ",
          nullif(coalesce(col("__ks"), lit("")), lit("")),
          nullif(array_join(slice(col("__w"),
            (col("__nc") * k + 1).cast("int"),
            (col("__nw") - col("__nc") * k).cast("int")), " "), lit(""))))
          .as("scrubbed"))
  }

  /** DuckDB oracle for [[chunkScrub]] over `documents`: same tiling,
    * hashing, and encoded-position canonical pick; kept tiles are
    * re-assembled with `list(... ORDER BY i)`. */
  def chunkScrubOracleSql(k: Int, exact: Boolean = false): String = {
    val key = if (exact) "(h, chunk)" else "(h)"
    s"""
    |WITH w AS (SELECT doc_id, text, str_split(text, ' ') AS w FROM documents),
    |base AS (SELECT doc_id, text, w, CAST(len(w) AS BIGINT) AS nw,
    |                CAST(len(w) // $k AS BIGINT) AS nc FROM w),
    |inst AS (
    |  SELECT doc_id, CAST(i AS BIGINT) AS i,
    |         array_to_string(list_slice(w, i*$k + 1, i*$k + $k), ' ') AS chunk
    |  FROM (SELECT doc_id, w, unnest(range(nc)) AS i FROM base WHERE nc >= 1)),
    |hashed AS (SELECT doc_id, i, chunk,
    |                  ${Hashing.polyHashSql("chunk")} AS h FROM inst),
    |canon AS (SELECT ${if (exact) "h, chunk" else "h"}, count(*) AS c,
    |                 min(doc_id * ${ChunkPosEnc} + i) AS first_pos
    |          FROM hashed GROUP BY ${if (exact) "h, chunk" else "h"}),
    |kept AS (SELECT doc_id, i, chunk FROM hashed JOIN canon USING $key
    |         WHERE c = 1 OR doc_id * ${ChunkPosEnc} + i = first_pos),
    |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_n,
    |               array_to_string(list(chunk ORDER BY i), ' ') AS ks
    |        FROM kept GROUP BY doc_id)
    |SELECT b.doc_id,
    |  b.nc - COALESCE(kept_n, 0) AS n_dropped,
    |  CASE WHEN b.nc = 0 THEN b.text
    |       ELSE concat_ws(' ', nullif(COALESCE(ks, ''), ''),
    |         nullif(array_to_string(
    |           list_slice(b.w, b.nc*$k + 1, b.nw), ' '), ''))
    |  END AS scrubbed
    |FROM base b LEFT JOIN per USING (doc_id) ORDER BY b.doc_id
    |""".stripMargin.trim
  }

  /** Exact-verified duplicated-span stats — [[chunkDupStats]] plus the
    * verification stage that turns polyhash-collision CONFIDENCE into a
    * Lee-et-al.-style exact-match GUARANTEE: a hash candidate (tile
    * whose 64-bit hash bucket has ≥2 members) counts as duplicated only
    * if another tile with the SAME STRING exists; candidates whose
    * bucket holds only distinct strings are collisions and are
    * rejected. Output per doc: `n_words`, `n_chunks`, `cand_chunks`
    * (hash-level), `dup_chunks` (string-verified), `collision_chunks`
    * (= cand − dup, the tiles the unverified path would over-scrub).
    *
    * Scale shape: pass 1 is [[chunkDupStats]]'s single `h`-keyed
    * window (hashes only — no strings move). Only CANDIDATE tiles
    * enter the verify shuffle, re-keyed on (h, tile string): at
    * realistic dup rates that's a few percent of the corpus carrying
    * k words each, and the exact compare is group-equality inside one
    * hash bucket — never a corpus-wide string join. Non-candidates
    * bypass as (doc, counters) rows. */
  def chunkDupExact(docs: DataFrame, id: Column, text: Column,
                    k: Int): DataFrame = {
    require(k >= 1, "chunk size must be positive")
    val tiled = docs.select(id.as("doc_id"), words(text).as("__w"))
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("__nw"),
        floor(size(col("__w")) / k).cast("int").as("__nc"), col("__w"))
      .filter(col("__nc") >= 1)
      .select(col("doc_id"), col("__nw"),
        explode(transform(sequence(lit(0), col("__nc") - 1),
          i => array_join(slice(col("__w"), i * k + 1, lit(k)), " ")))
          .as("__chunk"))
      .withColumn("h", Hashing.polyHash(col("__chunk")))
    // materialized: the cands/uniq branches below both consume the
    // h-keyed count window — without the checkpoint the corpus-wide
    // window (and the tile/hash projection under it) executes twice
    val perTile = Pin.pin(tiled
      .withColumn("__cand", count(lit(1)).over(Window.partitionBy("h"))))
    val cands = perTile.filter(col("__cand") >= 2)
      .withColumn("__ex",
        count(lit(1)).over(Window.partitionBy("h", "__chunk")))
      .select(col("doc_id"), col("__nw"), lit(1L).as("__is_cand"),
        when(col("__ex") >= 2, 1L).otherwise(0L).as("__is_dup"))
    val uniq = perTile.filter(col("__cand") === 1)
      .select(col("doc_id"), col("__nw"), lit(0L).as("__is_cand"),
        lit(0L).as("__is_dup"))
    cands.unionAll(uniq)
      .groupBy(col("doc_id"))
      .agg(max(col("__nw")).as("n_words"),
        count(lit(1)).as("n_chunks"),
        sum(col("__is_cand")).as("cand_chunks"),
        sum(col("__is_dup")).as("dup_chunks"))
      .withColumn("collision_chunks",
        col("cand_chunks") - col("dup_chunks"))
  }

  /** DuckDB oracle for [[chunkDupExact]] over `documents` — the exact
    * compare is the equality of the candidate span strings themselves
    * (GROUP BY h, chunk). */
  def chunkDupExactOracleSql(k: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
    |                CAST(len(w) // $k AS BIGINT) AS nc, w
    |         FROM w WHERE len(w) >= $k),
    |chunks AS (
    |  SELECT doc_id, n_words,
    |         array_to_string(list_slice(w, i*$k + 1, i*$k + $k), ' ') AS chunk
    |  FROM (SELECT doc_id, n_words, w, unnest(range(nc)) AS i FROM base)),
    |hashed AS (SELECT doc_id, n_words, chunk,
    |                  ${Hashing.polyHashSql("chunk")} AS h FROM chunks),
    |cnt AS (SELECT h, count(*) AS c FROM hashed GROUP BY h),
    |ex AS (SELECT h, chunk, count(*) AS ce FROM hashed GROUP BY h, chunk),
    |per AS (SELECT doc_id, max(n_words) AS n_words,
    |          CAST(count(*) AS BIGINT) AS n_chunks,
    |          CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    |            AS cand_chunks,
    |          CAST(sum(CASE WHEN ce >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    |            AS dup_chunks
    |        FROM hashed JOIN cnt USING (h) JOIN ex USING (h, chunk)
    |        GROUP BY doc_id)
    |SELECT doc_id, n_words, n_chunks, cand_chunks, dup_chunks,
    |  cand_chunks - dup_chunks AS collision_chunks
    |FROM per ORDER BY doc_id
    |""".stripMargin.trim

  /** Maximal duplicated SPANS — the [[chunkDupStats]] tile verdicts
    * merged into runs: consecutive duplicated tiles within a document
    * collapse to one (start, length) span row, the unit a scrub
    * report or a Lee-et-al.-style span audit actually wants (a
    * 500-word duplicated block is one span, not 100 tile rows).
    *
    * Island detection: among a doc's duplicated tiles ordered by tile
    * index, `index − row_number()` is constant exactly within a
    * consecutive run — one window over the per-doc partition, then a
    * groupBy per (doc, island). Output per span: `span_start_word`
    * (0-based word offset), `span_tiles`, `span_words` (= tiles·k,
    * the detected extent; the true duplicated span may extend up to
    * k−1 words into the neighbouring tiles on each side — see
    * [[chunkDupStats]]'s boundary-granularity note).
    *
    * Scale shape: the corpus-wide pass is [[chunkDupStats]]'s single
    * `h`-partitioned count window (hashes only); the island window
    * partitions by doc_id over ONLY the duplicated tiles — at
    * realistic dup rates a few percent of tile rows, and per-doc
    * partitions are bounded by doc length, so no skew beyond the
    * longest document. */
  def dupSpanMerge(docs: DataFrame, id: Column, text: Column,
                   k: Int): DataFrame = {
    require(k >= 1, "chunk size must be positive")
    val tiled = docs.select(id.as("doc_id"), words(text).as("__w"))
      .select(col("doc_id"),
        floor(size(col("__w")) / k).cast("int").as("__nc"), col("__w"))
      .filter(col("__nc") >= 1)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("__nc") - 1),
          i => array_join(slice(col("__w"), i * k + 1, lit(k)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("__i"),
        Hashing.polyHash(col("col")).as("h"))
    val dup = tiled
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__cnt") >= 2)
    val ord = Window.partitionBy("doc_id").orderBy("__i")
    dup
      .withColumn("__island",
        col("__i") - row_number().over(ord).cast("long"))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("__i")).as("__start_tile"),
        count(lit(1)).as("span_tiles"))
      .select(col("doc_id"),
        (col("__start_tile") * k).as("span_start_word"),
        col("span_tiles"),
        (col("span_tiles") * k).as("span_words"))
  }

  /** DuckDB twin of [[dupSpanMerge]] over `documents`. */
  def dupSpanMergeOracleSql(k: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |base AS (SELECT doc_id, CAST(len(w) // $k AS BIGINT) AS nc, w
    |         FROM w WHERE len(w) >= $k),
    |chunks AS (
    |  SELECT doc_id, CAST(i AS BIGINT) AS i,
    |         array_to_string(list_slice(w, i*$k + 1, i*$k + $k), ' ') AS chunk
    |  FROM (SELECT doc_id, w, unnest(range(nc)) AS i FROM base)),
    |hashed AS (SELECT doc_id, i,
    |                  ${Hashing.polyHashSql("chunk")} AS h FROM chunks),
    |cnt AS (SELECT h, count(*) AS c FROM hashed GROUP BY h),
    |dup AS (SELECT doc_id, i FROM hashed JOIN cnt USING (h) WHERE c >= 2),
    |isl AS (SELECT doc_id, i,
    |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
    |        FROM dup)
    |SELECT doc_id, CAST(min(i) * $k AS BIGINT) AS span_start_word,
    |  CAST(count(*) AS BIGINT) AS span_tiles,
    |  CAST(count(*) * $k AS BIGINT) AS span_words
    |FROM isl GROUP BY doc_id, island
    |ORDER BY doc_id, span_start_word
    |""".stripMargin.trim

  // ---------------------------------------------------------------
  // Content-defined chunking (CDC) — Muthitacharoen et al. 2001
  // (LBFS); the shift-robust complement to the fixed k-word tiles
  // above: an inserted word re-aligns every fixed tile after it, but
  // perturbs CDC boundaries only within one rolling window.
  // ---------------------------------------------------------------

  /** Content-defined chunk dedup stats: (doc_id, n_chunks,
    * n_dup_chunks). A chunk boundary falls after word `i` when the
    * polyhash of the `win`-word window ending at `i` ≡ 0 (mod `mod`)
    * — boundaries derive from CONTENT, so two documents sharing a
    * long span cut it into the same chunks regardless of where the
    * span starts (the property [[chunkDupStats]]'s fixed tiles lose
    * under a single-word insertion; CdcSpec pins the contrast).
    * Expected chunk length ≈ `mod` words. Duplicate groups key on
    * (hash, chunk string) — the exact-guarantee convention of
    * [[chunkDupExact]], so a hash collision never counts as a dup.
    *
    * Scale shape: O(n·win) boundary scoring inside one projection
    * (the window slices re-read the bound `__w` alias, never re-split
    * text), then one doc-keyed window (chunk index prefix sum), one
    * doc-keyed group (chunk assembly — state bounded by one document),
    * one (h, chunk)-keyed window (corpus-wide group sizes), one
    * doc-keyed count agg. Every shuffle is keyed; nothing is
    * corpus-quadratic. */
  def cdcChunkStats(docs: DataFrame, id: Column, text: Column,
                    win: Int, mod: Int): DataFrame =
    cdcChunks(docs, id, text, win, mod)
      .withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy("h", "chunk")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__cnt") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))

  /** The CDC front shared by the stats and incremental paths:
    * (doc_id, chunk_idx, chunk, h) — boundary scoring projection,
    * doc-keyed prefix sum, doc-keyed chunk assembly. */
  private[graft] def cdcChunks(docs: DataFrame, id: Column, text: Column,
                               win: Int, mod: Int): DataFrame = {
    require(win >= 1, "window must be positive")
    require(mod >= 2, "modulus must be at least 2")
    val base = docs.select(id.as("doc_id"), words(text).as("__w"))
    val flagged = base.select(col("doc_id"), posexplode(
        transform(sequence(lit(1), greatest(size(col("__w")), lit(1))),
          j => struct(
            element_at(col("__w"), j).as("word"),
            (j >= lit(win) && pmod(Hashing.polyHash(
              array_join(slice(col("__w"), j - lit(win - 1), lit(win)),
                " ")), lit(mod.toLong)) === 0).cast("long").as("b")))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("j"),
        col("col.word").as("word"), col("col.b").as("b"))
    val byPos = Window.partitionBy("doc_id").orderBy("j")
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("chunk_idx", coalesce(sum(col("b")).over(byPos), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("j"), col("word")))),
        s => s.getField("word")), " ").as("chunk"))
      .withColumn("h", Hashing.polyHash(col("chunk")))
  }

  /** The [[cdcChunks]] CTE chain with prefixed names, ending at
    * `${p}hashed`(doc_id, chunk_idx, chunk, h), over
    * `$rel WHERE pred` (rel must expose doc_id, text). */
  private[graft] def cdcCtes(win: Int, mod: Int, pred: String,
                             p: String,
                             rel: String = "documents"): String =
    s"""${p}w AS (SELECT doc_id, str_split(text, ' ') AS w
    |        FROM $rel WHERE $pred),
    |${p}pos AS (
    |  SELECT doc_id, CAST(j AS BIGINT) AS j, w[j] AS word,
    |    CASE WHEN j >= $win AND ${Hashing.polyHashSql(
      s"array_to_string(list_slice(w, j - ${win - 1}, j), ' ')")}
    |      % $mod = 0 THEN 1 ELSE 0 END AS b
    |  FROM (SELECT doc_id, w,
    |          unnest(range(1, greatest(len(w), 1) + 1)) AS j FROM ${p}w)),
    |${p}idx AS (
    |  SELECT doc_id, j, word,
    |    COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY j
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    |      AS chunk_idx
    |  FROM ${p}pos),
    |${p}chunks AS (
    |  SELECT doc_id, chunk_idx,
    |         array_to_string(list(word ORDER BY j), ' ') AS chunk
    |  FROM ${p}idx GROUP BY doc_id, chunk_idx),
    |${p}hashed AS (SELECT doc_id, chunk_idx, chunk,
    |                  ${Hashing.polyHashSql("chunk")} AS h
    |               FROM ${p}chunks)""".stripMargin

  /** DuckDB twin of [[cdcChunkStats]] over `documents`. */
  def cdcChunkStatsOracleSql(win: Int, mod: Int): String =
    s"""
    |WITH ${cdcCtes(win, mod, "TRUE", "")},
    |cnt AS (SELECT doc_id,
    |          count(*) OVER (PARTITION BY h, chunk) AS c FROM hashed)
    |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
    |  CAST(count(*) FILTER (c > 1) AS BIGINT) AS n_dup_chunks
    |FROM cnt GROUP BY doc_id ORDER BY doc_id
    |""".stripMargin.trim

  /** CDC scrub: remove duplicated chunks, keeping each duplicate
    * group's canonical FIRST occurrence (smallest encoded
    * (doc, position) — the [[chunkScrub]] convention), and reassemble
    * each document from its kept chunks. Because CDC chunks tile the
    * whole document (no fixed-k tail remainder), a doc with no
    * duplicated chunks reconstructs byte-identically. Dup groups key
    * on (hash, chunk string) — the exact-guarantee convention.
    * Output: (doc_id, n_dropped, scrubbed).
    *
    * Shape: the [[cdcChunks]] front plus ONE (h, chunk)-keyed window
    * (count + canonical-min in one pass) and a doc-keyed reassembly
    * agg whose state is one document's text. */
  def cdcScrub(docs: DataFrame, id: Column, text: Column,
               win: Int, mod: Int): DataFrame = {
    val w = Window.partitionBy("h", "chunk")
    val pos = col("doc_id") * ChunkPosEnc + col("chunk_idx")
    cdcChunks(docs, id, text, win, mod)
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__first", min(pos).over(w))
      .withColumn("__keep", col("__cnt") === 1 || pos === col("__first"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          sort_array(collect_list(when(col("__keep"),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("scrubbed"))
  }

  /** [[cdcScrubOracleSql]]'s body as a prefixed CTE chain ending at
    * `${p}scrubrows`(doc_id, n_dropped, scrubbed) — spliceable into a
    * larger composition (the pipeline oracle). */
  private[graft] def cdcScrubCtes(win: Int, mod: Int, p: String,
                                  rel: String = "documents"): String =
    s"""${cdcCtes(win, mod, "TRUE", p, rel)},
    |${p}canon AS (SELECT h, chunk, count(*) AS c,
    |                 min(doc_id * $ChunkPosEnc + chunk_idx) AS fp
    |          FROM ${p}hashed GROUP BY h, chunk),
    |${p}kept AS (SELECT doc_id, chunk_idx, chunk,
    |           (c = 1 OR doc_id * $ChunkPosEnc + chunk_idx = fp) AS keep
    |         FROM ${p}hashed JOIN ${p}canon USING (h, chunk)),
    |${p}scrubrows AS (
    |  SELECT doc_id,
    |    CAST(count(*) FILTER (NOT keep) AS BIGINT) AS n_dropped,
    |    COALESCE(array_to_string(
    |      list(chunk ORDER BY chunk_idx) FILTER (keep), ' '), '')
    |      AS scrubbed
    |  FROM ${p}kept GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of [[cdcScrub]] over `documents`. */
  def cdcScrubOracleSql(win: Int, mod: Int): String =
    s"""
    |WITH ${cdcScrubCtes(win, mod, "")}
    |SELECT doc_id, n_dropped, scrubbed FROM scrubrows ORDER BY doc_id
    |""".stripMargin.trim

  /** Incremental CDC ingest: a new BATCH of documents against a
    * persisted chunk INDEX — the CDC twin of [[dedupIncremental]].
    * Output per batch doc: (doc_id, n_chunks, n_dup_vs_index), where
    * a batch chunk counts as duplicated iff the SAME (hash, string)
    * chunk exists in the index corpus. The batch pays its own
    * chunking plus one (h, chunk)-keyed join against the distinct
    * index chunk set — never a corpus re-chunk (at production scale
    * the index side is computed once at ingest time and persisted
    * bucketed by h; here both sides derive in-query so the oracle
    * sees the same relation). */
  def cdcIncremental(index: DataFrame, batch: DataFrame, id: Column,
                     text: Column, win: Int, mod: Int): DataFrame = {
    val idx = cdcChunks(index, id, text, win, mod)
      .select(col("h"), col("chunk")).distinct()
      .withColumn("__hit", lit(1L))
    cdcChunks(batch, id, text, win, mod)
      .join(idx, Seq("h", "chunk"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_dup_vs_index"))
  }

  /** DuckDB twin of [[cdcIncremental]] with the id split at `split`
    * (index = doc_id < split, batch = the rest). */
  def cdcIncrementalOracleSql(win: Int, mod: Int, split: Long): String =
    s"""
    |WITH ${cdcCtes(win, mod, s"doc_id < $split", "i")},
    |${cdcCtes(win, mod, s"doc_id >= $split", "b")},
    |iset AS (SELECT DISTINCT h, chunk FROM ihashed),
    |j AS (SELECT b.doc_id,
    |        CASE WHEN iset.h IS NOT NULL THEN 1 ELSE 0 END AS hit
    |      FROM bhashed b LEFT JOIN iset
    |        ON iset.h = b.h AND iset.chunk = b.chunk)
    |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
    |  CAST(sum(hit) AS BIGINT) AS n_dup_vs_index
    |FROM j GROUP BY doc_id ORDER BY doc_id
    |""".stripMargin.trim

  // ---------------------------------------------------------------
  // MinHash + LSH (SURVEY §7.6; banding per Leskovec/Rajaraman/Ullman
  // "Mining of Massive Datasets" ch.3)
  // ---------------------------------------------------------------

  /** Per-doc minhash signature: k permutation minima over distinct
    * shingle hashes — one compiled pass per document
    * ([[org.apache.spark.sql.graftext.MinHashExpr]]); the signature
    * never leaves its input row, so no shuffle precedes banding. Docs
    * with fewer than `shingle` tokens have no grams and hence no
    * signature row, matching [[minhashSignatureViaAgg]] (pinned by
    * DedupSpec). */
  def minhashSignature(docs: DataFrame, id: Column, text: Column,
                       shingle: Int, k: Int): DataFrame = {
    require(k <= Hashing.Perms.length, s"at most ${Hashing.Perms.length} perms")
    val sig = org.apache.spark.sql.graftext.MinHashBridge.column(
      text, shingle, Hashing.Perms.take(k), Hashing.P, Hashing.P2)
    docs.select(id.as("doc_id"), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("doc_id") +:
        (0 until k).map(i => element_at(col("__sig"), i + 1).as(s"mh$i")): _*)
  }

  /** Reference formulation of [[minhashSignature]]: explode → groupBy
    * with k `min` aggregates — the executable spec of the kernel (and
    * the shape the DuckDB oracle mirrors). */
  def minhashSignatureViaAgg(docs: DataFrame, id: Column, text: Column,
                             shingle: Int, k: Int): DataFrame = {
    val grams = explodedGrams(docs, id, text, shingle)
    val hashed = grams.withColumn("h", Hashing.polyHash(col("gram")))
    hashed.groupBy(col("doc_id"))
      .agg(min(Hashing.perm(col("h"), 0)).as("mh0"),
        (1 until k).map(i => min(Hashing.perm(col("h"), i)).as(s"mh$i")): _*)
  }

  /** LSH candidate pairs: docs sharing at least one band of the
    * signature (bands of `rowsPerBand` consecutive minhashes). The
    * band value packs two minhashes into one int64 (mh < P2 ≈ 2^31,
    * so mh0·P2 + mh1 < 2^62). Join is per (band index, band value) —
    * an equi shuffle join, never all-pairs.
    *
    * A pair colliding in k bands would surface k times; instead of a
    * pair-level `distinct` (a shuffle as large as the candidate set)
    * each pair is emitted only at its FIRST matching band — both
    * docs' full band-signature arrays ride along in the join row, so
    * "no earlier band matched" is a codegen'd filter, not a shuffle. */
  def minhashCandidates(signatures: DataFrame, k: Int,
                        rowsPerBand: Int = 2): DataFrame =
    minhashCandidatesWhere(signatures, k, rowsPerBand, lit(true))

  /** Incremental dedup: candidates where the RIGHT doc is in the
    * arriving batch (`doc_id >= newFrom`, ids assigned in arrival
    * order) — each pair is new-vs-corpus or new-vs-new; settled
    * corpus-internal pairs (both ids < newFrom) are never re-derived.
    * THE daily-ingest shape at 100 TB: the nightly run re-pairs only
    * against the delta, not the corpus against itself — the probe
    * side of the band join shrinks to the batch, and with band
    * signatures persisted/bucketed by (band, sig) the corpus side
    * becomes a co-located lookup instead of a full reshuffle
    * (the same watermark-delta pattern as [[graft.Queries.eventsSince]],
    * applied to dedup). */
  def minhashCandidatesIncremental(signatures: DataFrame, k: Int,
                                   rowsPerBand: Int,
                                   newFrom: Long): DataFrame =
    minhashCandidatesWhere(signatures, k, rowsPerBand,
      col("d2") >= newFrom)

  /** One row per (doc, band): `band` index, the packed int64 band
    * value in `sig`, and the full per-doc band array in `sigs` (the
    * first-matching-band predicate needs it). The exploded form of a
    * signature frame (bucket by (band, sig) and the corpus side of
    * the candidate join becomes a co-located lookup). */
  def minhashBandRows(signatures: DataFrame, k: Int,
                      rowsPerBand: Int = 2): DataFrame = {
    require(k % rowsPerBand == 0, "k must divide into bands")
    val nBands = k / rowsPerBand
    val bandVal = (b: Int) => {
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      cols.reduceLeft((acc, c) => acc * lit(Hashing.P2) + c)
    }
    signatures.select(col("doc_id"),
        array((0 until nBands).map(bandVal): _*).as("sigs"))
      .select(col("doc_id"), col("sigs"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("sig", element_at(col("sigs"), col("band") + 1))
  }

  /** Band-join core shared by the full and incremental candidate
    * generators: `probePred` (over `d2`) prunes the probe side BEFORE
    * the join, so its shuffle volume tracks the surviving docs. */
  private def minhashCandidatesWhere(signatures: DataFrame, k: Int,
                                     rowsPerBand: Int,
                                     probePred: Column): DataFrame = {
    val nBands = k / rowsPerBand
    // Materialize the signature relation ONCE before the self-join:
    // both join sides otherwise re-evaluate the whole shingle→minhash
    // kernel lineage (Spark reuses exchanges, not arbitrary identical
    // subtrees), doubling the dominant cost — measured ~4× steady-state
    // on the 100× corpus (SCALE.md §9). Storage is n rows × k longs —
    // the distributed analog of writing the signature table before
    // band-joining it, which is the lakehouse shape at 100 TB.
    val bands = minhashBandRows(Pin.pin(signatures), k, rowsPerBand)
    val a = spread(bands.select(col("band"), col("sig"),
      col("doc_id").as("d1"), col("sigs").as("sigs1")),
      col("band"), col("sig"))
    val b = bands.select(col("band").as("__b2"), col("sig").as("__s2"),
      col("doc_id").as("d2"), col("sigs").as("sigs2"))
      .filter(probePred)
    val noEarlierMatch = (0 until nBands).map { bp =>
      when(col("band") > bp, element_at(col("sigs1"), bp + 1) =!=
        element_at(col("sigs2"), bp + 1)).otherwise(lit(true))
    }.reduce(_ && _)
    a.join(b, col("band") === col("__b2") && col("sig") === col("__s2") &&
        col("d1") < col("d2"))
      .filter(noEarlierMatch)
      .select(col("d1"), col("d2"))
  }

  /** Shared DuckDB CTE chain `w, grams, hashed, mh, bands` for the
    * minhash-signature pipeline over `documents` — the single source
    * both [[minhashOracleSql]] and [[ngramJaccardViaMinhashOracleSql]]
    * compose, so a signature-scheme change cannot silently decouple
    * one oracle from the kernel. */
  private def minhashCtes(shingle: Int, k: Int, rowsPerBand: Int,
                          prefix: String = ""): String = {
    val nBands = k / rowsPerBand
    val q = prefix
    val mins = (0 until k)
      .map(i => s"min(${Hashing.permSql("h", i)}) AS mh$i").mkString(", ")
    val bandRows = (0 until nBands).map { b =>
      val sig = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}")
        .reduceLeft((acc, c) => s"($acc * ${Hashing.P2} + $c)")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM ${q}mh"
    }.mkString(" UNION ALL ")
    s"""
    |${q}w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |${q}grams AS (
    |  SELECT DISTINCT doc_id, gram
    |  FROM (SELECT doc_id,
    |          unnest(list_transform(range(greatest(len(w) - ${shingle - 1}, 0)),
    |            i -> ${(1 to shingle).map(x => s"w[i + $x]").mkString(" || ' ' || ")})) AS gram
    |        FROM ${q}w)),
    |${q}hashed AS (SELECT doc_id, ${Hashing.polyHashSql("gram")} AS h FROM ${q}grams),
    |${q}mh AS (SELECT doc_id, $mins FROM ${q}hashed GROUP BY doc_id),
    |${q}bands AS ($bandRows)
    |""".stripMargin.trim
  }

  /** LSH bucket-occupancy audit — the dedup-ladder twin of
    * [[graft.ext.Similarity.cellOccupancy]]: the (band, sig) bucket
    * SIZE HISTOGRAM with each size's pair-mass contribution
    * s(s−1)/2 · n_buckets, whose sum is the exact candidate volume
    * the band join will emit. The pre-flight a 100 TB dedup runs
    * BEFORE the join: a boilerplate-heavy corpus shows up here as a
    * fat tail (one 10⁶-doc bucket = 5·10¹¹ pairs from one key) while
    * the fix (shingle/band dials, or a bucket cap) is still cheap.
    * Histogram output is ≤ |distinct sizes| rows at any corpus scale;
    * pair mass folds in decimal(38,0)/HUGEINT. */
  def bandOccupancy(docs: DataFrame, shingle: Int, k: Int,
                    rowsPerBand: Int = 2): DataFrame =
    minhashBandRows(
        minhashSignature(docs, col("doc_id"), col("text"), shingle, k),
        k, rowsPerBand)
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("s").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("bucket_size").cast("long").as("bucket_size"),
        col("n_buckets").cast("long").as("n_buckets"),
        expr("cast(bucket_size as decimal(38,0)) * (bucket_size - 1) " +
          "div 2 * n_buckets").cast("long").as("pair_mass"))
      .orderBy("bucket_size")

  /** DuckDB twin of [[bandOccupancy]] over `documents`. */
  def bandOccupancyOracleSql(shingle: Int, k: Int,
                             rowsPerBand: Int = 2): String =
    s"""
    |WITH ${minhashCtes(shingle, k, rowsPerBand)},
    |bsz AS (SELECT band, sig, count(*) AS s FROM bands GROUP BY 1, 2)
    |SELECT CAST(s AS BIGINT) AS bucket_size,
    |  CAST(count(*) AS BIGINT) AS n_buckets,
    |  CAST(CAST(s AS HUGEINT) * (s - 1) // 2 * count(*) AS BIGINT)
    |    AS pair_mass
    |FROM bsz GROUP BY s ORDER BY bucket_size
    |""".stripMargin.trim

  /** Full DuckDB oracle for minhash LSH candidates over `documents`. */
  def minhashOracleSql(shingle: Int, k: Int, rowsPerBand: Int): String =
    s"""
    |WITH ${minhashCtes(shingle, k, rowsPerBand)}
    |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |FROM bands a JOIN bands b
    |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** DuckDB oracle for [[minhashCandidatesIncremental]]. */
  def minhashIncrementalOracleSql(shingle: Int, k: Int, rowsPerBand: Int,
                                  newFrom: Long): String =
    s"""
    |WITH ${minhashCtes(shingle, k, rowsPerBand)}
    |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |FROM bands a JOIN bands b
    |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    |WHERE b.doc_id >= $newFrom
    |ORDER BY d1, d2
    |""".stripMargin.trim

  // ---------------------------------------------------------------
  // SimHash with banded hamming LSH
  // ---------------------------------------------------------------

  /** Signature width. Wide enough that hamming<=3 keeps only
    * genuinely similar docs (32 bits marked ~24% of ALL pairs as
    * near-dups on the fixtures), while (1L << j) stays positive and
    * DuckDB BIGINT arithmetic matches exactly (so <= 62). Width is
    * ALSO the banding-scale knob: with [[SimBands]] fixed by the
    * pigeonhole guarantee, bucket space is 2^(SimBits/SimBands) and
    * band-join candidate volume grows as n²/2^(SimBits/SimBands) —
    * the 100× scale study measured 48 bits (4096 buckets) at ~122M
    * candidate pairs / 16-24s for 500k docs; 60 bits (32768 buckets)
    * cuts that 8×. Widen further as the corpus grows another decade. */
  val SimBits = 60

  /** Bands in the hamming LSH. 4 bands ⇒ pigeonhole guarantees any
    * pair with hamming <= 3 shares at least one full band, so the
    * band join + exact hamming filter is lossless at maxHamming=3. */
  val SimBands = 4

  private val SimBandBits = SimBits / SimBands
  private[graft] val SimBandMask = (1L << SimBandBits) - 1

  /** Live bits per universal-hash permutation (perm < P2 < 2^31):
    * signature bits 0..30 come from perm 0 and bits 31..SimBits-1
    * from perm 1. One perm used to feed all 48 (pre-round-6) — its
    * dead top bits left bits 31..47 constant-zero, band 3 identical
    * for EVERY doc, and the band-3 join a full all-pairs quadratic
    * (caught by the sf1 scale study: 78s at 10x, time ∝ n²). */
  val SimPermBits = 31
  require(SimBits - SimPermBits <= SimPermBits,
    "two 31-bit perms cover at most 62 signature bits")

  /** Per-doc [[SimBits]]-bit simhash over distinct tokens: bit j is the sign of
    * sum over tokens of ±1 by token-hash bit j. One compiled pass per
    * document ([[org.apache.spark.sql.graftext.SimHashExpr]]) — the
    * signature never leaves its input row, so there is NO shuffle
    * before banding. Pinned bit-identical to [[simhashViaAgg]] by
    * DedupSpec. */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val (a, b) = Hashing.Perms.head
    val (a2, b2) = Hashing.Perms(1)
    docs.select(id.as("doc_id"),
      org.apache.spark.sql.graftext.SimHashBridge
        .column(text, SimBits, Hashing.P, a, b, a2, b2, Hashing.P2)
        .as("simhash"))
      // null-text docs have a NULL signature while the explode-based
      // formulation (and the DuckDB oracle) emit no row at all — and a
      // NULL signature group would collapse every null-text doc into
      // one "exact duplicate" cluster in nearDupDropIds. Drop them
      // here so all consumers agree with simhashViaAgg.
      .filter(col("simhash").isNotNull)
  }

  /** Reference formulation of [[simhash]] as explode + 48 conditional
    * sums keyed on doc_id — the executable spec of the kernel (and the
    * shape the DuckDB oracle mirrors). */
  def simhashViaAgg(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      explode(array_distinct(words(text))).as("tok"))
    val h = Hashing.perm(Hashing.polyHash(col("tok")), 0)
    val h2 = Hashing.perm(Hashing.polyHash(col("tok")), 1)
    def bitOf(j: Int) =
      if (j < SimPermBits) shiftright(h, j)
      else shiftright(h2, j - SimPermBits)
    val bitSums = toks.groupBy(col("doc_id")).agg(
      sum(when(bitOf(0).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as("b0"),
      (1 until SimBits).map(j =>
        sum(when(bitOf(j).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"b$j")): _*)
    val sim = (0 until SimBits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    bitSums.select(col("doc_id"), sim.as("simhash"))
  }

  /** Band value b ([[SimBandBits]] bits) of a [[SimBits]]-bit simhash
    * column. */
  private def simBand(sim: Column, b: Int): Column =
    shiftright(sim, b * SimBandBits).bitwiseAND(lit(SimBandMask))

  /** "No band before `band` matched" — dedupes multi-band collisions
    * with a codegen'd predicate on the two signatures instead of a
    * pair-level `distinct` shuffle over the full candidate set. */
  private def firstSimBandOnly: Column =
    (0 until SimBands).map { bp =>
      when(col("band") > bp,
        simBand(col("s1"), bp) =!= simBand(col("s2"), bp))
        .otherwise(lit(true))
    }.reduce(_ && _)

  /** Near-dup pairs with hamming(simhash) <= maxHamming, found via
    * [[SimBands]]x[[SimBandBits]]-bit banding (pigeonhole: <=3
    * differing bits leave at least one of 4 bands identical) then
    * exact hamming filter. Each pair surfaces once: at its first
    * matching band (see [[firstSimBandOnly]] — no pair-level distinct
    * shuffle). */
  /** One row per (doc, simhash band): the exploded band view of a
    * [[simhash]] frame — the pair-join input of [[simhashPairs]]; the
    * signature rides along so a band collision can apply the exact
    * hamming filter without a second lookup. */
  private def simhashBandRows(sims: DataFrame): DataFrame =
    sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimBands).map(b => struct(lit(b).as("band"),
        simBand(col("simhash"), b).as("bv"))): _*)).as("bs"))
      .select(col("doc_id"), col("simhash"), col("bs.band").as("band"),
        col("bs.bv").as("bv"))

  def simhashPairs(sims: DataFrame, maxHamming: Int = 3): DataFrame = {
    // One kernel pass, not two: the band self-join re-evaluates the
    // signature lineage on BOTH sides without this (BandStats measured
    // the materialized form ~4× faster steady-state at 100×, SCALE.md
    // §9). n rows × 16 bytes — the signature table written once, then
    // band-joined, as a warehouse would lay it out.
    val sigs = Pin.pin(sims)
    val bands = simhashBandRows(sigs)
    val a = spread(bands.select(col("band"), col("bv"),
      col("doc_id").as("d1"), col("simhash").as("s1")),
      col("band"), col("bv"))
    val b = bands.select(col("band").as("__b2"), col("bv").as("__v2"),
      col("doc_id").as("d2"), col("simhash").as("s2"))
    a.join(b, col("band") === col("__b2") && col("bv") === col("__v2") &&
        col("d1") < col("d2"))
      .filter(firstSimBandOnly)
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Shared DuckDB CTE chain `toks, hashed, bits, sims, bands` for the
    * simhash-signature pipeline over `documents` — the single source
    * [[simhashOracleSql]] and [[nearDupComponentsOracleSql]] compose,
    * so a signature-scheme change cannot silently decouple one oracle
    * from the kernel. */
  private[graft] def simhashCtes: String = simhashCtesFrom("documents")

  /** [[simhashCtes]] over an arbitrary source relation (a table or an
    * earlier CTE with doc_id + text) — lets composite oracles (e.g.
    * the corpus-pipeline twin) band a filtered subset instead of the
    * whole `documents` table. */
  private[graft] def simhashCtesFrom(src: String): String = {
    val h = Hashing.permSql(Hashing.polyHashSql("tok"), 0)
    val h2 = Hashing.permSql(Hashing.polyHashSql("tok"), 1)
    def srcOf(j: Int) =
      if (j < SimPermBits) s"(h >> $j)" else s"(h2 >> ${j - SimPermBits})"
    val bitSums = (0 until SimBits)
      .map(j => s"sum(CASE WHEN ${srcOf(j)} & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sim = (0 until SimBits)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    val bandRows = (0 until SimBands).map(b =>
      s"SELECT doc_id, simhash, $b AS band, " +
        s"(simhash >> ${b * SimBandBits}) & $SimBandMask AS bv FROM sims")
      .mkString(" UNION ALL ")
    s"""
    |toks AS (
    |  SELECT DISTINCT doc_id, unnest(list_distinct(str_split(text, ' '))) AS tok
    |  FROM $src),
    |hashed AS (SELECT doc_id, $h AS h, $h2 AS h2 FROM toks),
    |bits AS (SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id),
    |sims AS (SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM bits),
    |bands AS ($bandRows)
    |""".stripMargin.trim
  }

  /** Full DuckDB oracle for simhash near-dup pairs over `documents`. */
  def simhashOracleSql(maxHamming: Int = 3): String =
    s"""
    |WITH $simhashCtes,
    |pairs AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
    |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
    |SELECT d1, d2, hamming FROM pairs WHERE hamming <= $maxHamming
    |ORDER BY d1, d2
    |""".stripMargin.trim

  // ---------------------------------------------------------------
  // n-gram Jaccard verification
  // ---------------------------------------------------------------

  /** Verified near-dup pairs by n-gram Jaccard >= threshold. Inverted
    * index join on the gram (pairs only materialize for co-occurring
    * grams), then |∩| / (|A| + |B| - |∩|). Threshold comparison is done
    * on cross-multiplied integers — no float division in the filter.
    *
    * Join volume is Σ_gram df², i.e. it tracks gram co-occurrence
    * density. That is the right trade at moderate thresholds (a weak
    * prefix filter generates more candidate-verification work than it
    * saves — measured 2.5× slower at t=1/2 on the fixtures); for high
    * thresholds (t ≳ 0.7) use [[ngramJaccardPairsPrefix]], which
    * exposes only each doc's rarest grams to the join. For corpus
    * scale where even that blows up, generate candidates with
    * [[minhashCandidates]] (probabilistic, tunable) and verify those
    * pairs exactly — the standard composition in large dedup
    * pipelines. */
  def ngramJaccardPairs(docs: DataFrame, id: Column, text: Column, n: Int,
                        thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val grams = explodedGrams(docs, id, text, n)
    val counts = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val a = spread(grams.select(col("gram"), col("doc_id").as("d1")),
      col("gram"))
    val b = grams.select(col("gram").as("__g2"), col("doc_id").as("d2"))
    val inter = a.join(b, col("gram") === col("__g2") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("d1"), col("n_grams").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n_grams").as("n2")), "d2")
      .filter(col("inter") * lit(thresholdDen) >=
        (col("n1") + col("n2") - col("inter")) * lit(thresholdNum))
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"))
  }

  /** Asymmetric CONTAINMENT pairs — the excerpt/quote detector
    * symmetric Jaccard structurally misses: a 50-gram document fully
    * embedded in a 5,000-gram one has Jaccard ≈ 0.01 but containment
    * C(A,B) = |A∩B|/|A| = 1.0. Emits pairs where the SMALLER gram
    * set's containment clears `thresholdNum/thresholdDen` (integer
    * cross-multiplication — no float ratios), with both containments
    * as ppm for triage. Same single gram-keyed equi-join shape as
    * [[ngramJaccardPairs]] (exact-verify path; at corpus scale run it
    * on LSH/winnow candidates — containment-biased recall prefers the
    * [[winnowedFingerprints]] index, whose shared-run guarantee is
    * length-asymmetric by construction). */
  def ngramContainmentPairs(docs: DataFrame, id: Column, text: Column,
                            n: Int, thresholdNum: Int,
                            thresholdDen: Int): DataFrame = {
    val grams = explodedGrams(docs, id, text, n)
    val counts = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val a = spread(grams.select(col("gram"), col("doc_id").as("d1")),
      col("gram"))
    val b = grams.select(col("gram").as("__g2"), col("doc_id").as("d2"))
    val inter = a.join(b, col("gram") === col("__g2") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("d1"), col("n_grams").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n_grams").as("n2")), "d2")
      .filter(col("inter") * lit(thresholdDen) >=
        least(col("n1"), col("n2")) * lit(thresholdNum))
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        expr("(inter * 1000000) div n1").as("cont1_ppm"),
        expr("(inter * 1000000) div n2").as("cont2_ppm"))
  }

  /** DuckDB twin of [[ngramContainmentPairs]] over `documents`. */
  def ngramContainmentOracleSql(n: Int, thresholdNum: Int,
                                thresholdDen: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |grams AS (
    |  SELECT DISTINCT doc_id, gram
    |  FROM (SELECT doc_id,
    |          unnest(list_transform(range(greatest(len(w) - ${n - 1}, 0)),
    |            i -> ${(1 to n).map(x => s"w[i + $x]").mkString(" || ' ' || ")})) AS gram
    |        FROM w)),
    |counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    |inter AS (
    |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
    |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    |  GROUP BY 1, 2)
    |SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
    |  CAST(c1.n_grams AS BIGINT) AS n1, CAST(c2.n_grams AS BIGINT) AS n2,
    |  (inter * 1000000) // c1.n_grams AS cont1_ppm,
    |  (inter * 1000000) // c2.n_grams AS cont2_ppm
    |FROM inter
    |JOIN counts c1 ON c1.doc_id = d1
    |JOIN counts c2 ON c2.doc_id = d2
    |WHERE inter * $thresholdDen >= least(c1.n_grams, c2.n_grams) * $thresholdNum
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** Corpus novelty curve: per document (in corpus order), how many
    * of its distinct n-grams appear here for the FIRST time — the
    * marginal-information measure behind "is more of this source
    * still worth ingesting?" A crawl whose novel share decays to
    * zero is re-crawling itself; a dedup pass that leaves novelty
    * flat did its job. First occurrence = the minimum doc_id holding
    * the gram (the same canonical-witness convention as the scrub
    * family), so the curve is deterministic and engine-portable.
    *
    * Two hash aggregates on the gram key (per-doc distinct grams →
    * global min-owner) + one gram-keyed join back — all linear in
    * total gram volume, no pair expansion anywhere. Docs with fewer
    * than n tokens surface with zero counts via the left join (they
    * carry no grams but belong on the curve). */
  def ngramNovelty(docs: DataFrame, id: Column, text: Column,
                   n: Int): DataFrame = {
    val grams = explodedGrams(docs, id, text, n)
    val first = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    val perDoc = grams.join(first, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).cast("long").as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).cast("long").as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          expr("(n_novel * 1000000) div n_grams")).otherwise(lit(0L))
          .cast("long").as("novel_ppm"))
  }

  /** DuckDB twin of [[ngramNovelty]] over `documents`. */
  def ngramNoveltyOracleSql(n: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |grams AS (
    |  SELECT DISTINCT doc_id, gram
    |  FROM (SELECT doc_id,
    |          unnest(list_transform(range(greatest(len(w) - ${n - 1}, 0)),
    |            i -> ${(1 to n).map(x => s"w[i + $x]").mkString(" || ' ' || ")})) AS gram
    |        FROM w)),
    |first_owner AS (
    |  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram),
    |per_doc AS (
    |  SELECT g.doc_id, count(*) AS n_grams,
    |    sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
    |  FROM grams g JOIN first_owner f USING (gram)
    |  GROUP BY g.doc_id)
    |SELECT d.doc_id,
    |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
    |  CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
    |  CAST(CASE WHEN coalesce(n_grams, 0) > 0
    |    THEN (n_novel * 1000000) // n_grams ELSE 0 END AS BIGINT)
    |    AS novel_ppm
    |FROM documents d LEFT JOIN per_doc USING (doc_id)
    |ORDER BY doc_id
    |""".stripMargin.trim

  /** [[ngramJaccardPairs]] with PPJoin-style prefix filtering (Xiao et
    * al., WWW'08) — same result set, different join shape. Canonical
    * gram order = ascending document frequency (rare first); each doc
    * exposes only its first |A| − ⌈t·|A|⌉ + 1 grams to the candidate
    * join (Jaccard ≥ t ⟹ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and the prefix
    * lemma guarantees qualifying pairs collide inside those prefixes);
    * candidates then verify exactly against the full distinct-gram
    * sets via `array_intersect`. Wins when the threshold is high
    * enough that prefixes are short — the common boilerplate grams of
    * a template-clustered corpus never reach the join.
    *
    * Measured trade (round-6 scale runs): on a rich vocabulary the
    * prefix join is effectively linear (10× docs ≈ same wall time);
    * on a degenerate vocabulary where every gram is common (the
    * 30-word fixtures) no prefix is rare and Σ df'² enumeration
    * dominates — there the LSH-candidate path
    * ([[ngramJaccardViaMinhash]]) is the right choice. This is the
    * exact-guarantee alternative, not the default scale path. */
  def ngramJaccardPairsPrefix(docs: DataFrame, id: Column, text: Column,
                              n: Int, thresholdNum: Int,
                              thresholdDen: Int): DataFrame =
    prefixJoinVerify(docs, id, text,
      prefixFrame(docs, id, text, n, thresholdNum, thresholdDen),
      n, thresholdNum, thresholdDen)

  /** The PPJoin prefix relation (gram, doc_id, n_grams): each doc's
    * first |A| − ⌈t·|A|⌉ + 1 grams in canonical (df asc, gram asc)
    * order. Materialized: the candidate join consumes it TWICE (both
    * sides) — without the checkpoint the grams + docFreq + two-window
    * subtree executes once per reference (measured: 12 parquet scans
    * and 8 Window nodes in the unmaterialized plan). */
  private def prefixFrame(docs: DataFrame, id: Column, text: Column,
                          n: Int, thresholdNum: Int,
                          thresholdDen: Int): DataFrame = {
    val grams = explodedGrams(docs, id, text, n)
    val docFreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    prefixFrameFrom(grams, docFreq, thresholdNum, thresholdDen)
  }

  /** [[prefixFrame]] from precomputed gram/df frames (lets the
    * adaptive path reuse the decision statistic's subplan). */
  private def prefixFrameFrom(grams: DataFrame, docFreq: DataFrame,
                              thresholdNum: Int,
                              thresholdDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = grams.join(docFreq, "gram")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("gram").asc)))
      .withColumn("n_grams", count(lit(1)).over(
        Window.partitionBy(col("doc_id"))))
    Pin.pin(ranked.filter(col("rank") <= col("n_grams") -
        expr(s"(n_grams * $thresholdNum + ${thresholdDen - 1}) " +
          s"div $thresholdDen") + 1)
      .select(col("gram"), col("doc_id"), col("n_grams")))
  }

  /** Prefix-collision candidates → exact verification (the second half
    * of [[ngramJaccardPairsPrefix]], shared with the adaptive path). */
  private def prefixJoinVerify(docs: DataFrame, id: Column, text: Column,
                               prefix: DataFrame, n: Int,
                               thresholdNum: Int,
                               thresholdDen: Int): DataFrame = {
    // candidate join with the AllPairs/PPJoin LENGTH filter: J >= t
    // implies t·|A| <= |B| <= |A|/t (min >= t·max, see the prefix
    // lemma derivation), cross-multiplied to integers — prunes the
    // cross-length collisions a common gram would otherwise emit,
    // which is most of the candidate volume on low-diversity corpora
    val cand = Pin.pin(spread(prefix.select(col("gram"), col("doc_id").as("d1"),
        col("n_grams").as("__n1")), col("gram"))
      .join(prefix.select(col("gram").as("__g2"), col("doc_id").as("d2"),
        col("n_grams").as("__n2")),
        col("gram") === col("__g2") && col("d1") < col("d2") &&
          col("__n1") * lit(thresholdNum) <= col("__n2") * lit(thresholdDen) &&
          col("__n2") * lit(thresholdNum) <= col("__n1") * lit(thresholdDen))
      .select(col("d1"), col("d2")).distinct())
    // gram sets only for docs that appear in a candidate pair — same
    // scoping as [[ngramJaccardViaMinhash]]: verification work tracks
    // the candidate set, not the corpus
    val candIds = cand.select(explode(array(col("d1"), col("d2")))
      .as("__cand_doc")).distinct()
    val scoped = docs.join(candIds, id === col("__cand_doc"), "left_semi")
    verifyExact(cand, gramSets(scoped, id, text, n),
      thresholdNum, thresholdDen)
  }

  /** df-ADAPTIVE similarity join — the hybrid every production
    * similarity-join system ships: build the PPJoin prefix, read its
    * df distribution (ONE cheap gram-keyed agg → one driver scalar,
    * the sanctioned watermark-read pattern), and
    *
    *  - if every prefix gram is rare (max prefix df² ≤ 4·|docs|, i.e.
    *    the worst gram's df'² candidate volume stays linear in the
    *    corpus), run the prefix candidate join — exact, and measured
    *    ~linear on realistic vocabularies;
    *  - otherwise the vocabulary is degenerate for prefix filtering
    *    (no rare grams ⇒ Σ df'² blowup — the 30-word-fixture shape),
    *    so fall back to MinHash-LSH candidates
    *    ([[ngramJaccardViaMinhash]]), whose cost tracks band
    *    collisions instead of gram frequency.
    *
    * Both branches verify candidates EXACTLY with the shared
    * [[verifyExact]]; the branch decision is deterministic on the
    * data, so the DuckDB oracle replays the same rule and picks the
    * same branch — the decision is part of the checked contract, not
    * a hidden heuristic. */
  def ngramJaccardPairsAdaptive(docs: DataFrame, id: Column, text: Column,
                                n: Int, thresholdNum: Int,
                                thresholdDen: Int, k: Int,
                                rowsPerBand: Int = 2,
                                sampleMod: Int = 20): DataFrame = {
    // Decision statistic: the prefix branch's real cost on a weak
    // vocabulary is the VERIFY volume — candidate pairs each paying
    // an exact set intersection (measured: 43k candidates for 256
    // true pairs = 2 s of array_intersect at sf0.1, with the
    // candidate-JOIN volume still tiny). A candidate needs a shared
    // prefix gram, so per prefix entry g the pairs it can seed are
    // < df(g). The estimator:
    //   - full-corpus gram df (ONE hash agg — no window, the cheap
    //     pass the whole decision rides on);
    //   - prefixes of a DETERMINISTIC doc sample (doc_id % sampleMod
    //     = 0 — no RNG, the oracle replays it) ranked by that FULL
    //     df, so sample prefix membership equals full-run membership
    //     (ranking by sample-local df dilutes quadratically and sees
    //     nothing — measured);
    //   - estVerify = sampleMod · Σ_sample-prefix-entries (df − 1),
    //     an UPPER bound on candidate volume: overshoot can only
    //     push toward the probabilistic branch, never break the
    //     exact one.
    // Prefix runs iff estVerify ≤ 4·|docs| (verify stays linear);
    // otherwise MinHash-LSH candidates (band collisions track true
    // similarity, not gram frequency) do the shortlisting.
    import org.apache.spark.sql.expressions.Window
    // materialized: the decision collect AND the chosen branch both
    // consume these (lineage reuse is not execution reuse — without
    // the checkpoints the prefix branch re-runs the gram scan + df
    // agg from scratch)
    val grams = Pin.pin(explodedGrams(docs, id, text, n))
    val gdf = Pin.pin(grams.groupBy(col("gram")).agg(count(lit(1)).as("df")))
    val sPrefix = grams.filter(col("doc_id") % sampleMod === 0)
      .join(gdf, "gram")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("gram").asc)))
      .withColumn("n_grams", count(lit(1)).over(
        Window.partitionBy(col("doc_id"))))
      .filter(col("rank") <= col("n_grams") -
        expr(s"(n_grams * $thresholdNum + ${thresholdDen - 1}) " +
          s"div $thresholdDen") + 1)
    val estRow = sPrefix.agg(sum(col("df") - 1).as("est")).collect()(0)
    val estVerify =
      (if (estRow.isNullAt(0)) 0L else estRow.getLong(0)) * sampleMod
    val nDocs = docs.count()
    if (estVerify <= 4L * nDocs)
      prefixJoinVerify(docs, id, text,
        prefixFrameFrom(grams, gdf, thresholdNum, thresholdDen),
        n, thresholdNum, thresholdDen)
    else
      ngramJaccardViaMinhash(docs, id, text, n, thresholdNum, thresholdDen,
        k, rowsPerBand)
  }

  /** Full DuckDB oracle for [[ngramJaccardPairsAdaptive]]: both branch
    * chains plus the same df decision, selected by mutually exclusive
    * constant predicates — the oracle replays the plan choice, not
    * just a result. */
  def ngramJaccardAdaptiveOracleSql(n: Int, thresholdNum: Int,
                                    thresholdDen: Int, k: Int,
                                    rowsPerBand: Int = 2,
                                    sampleMod: Int = 20): String =
    s"""
    |WITH ${minhashCtes(n, k, rowsPerBand)},
    |counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    |gdf AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
    |sranked AS (
    |  SELECT g.doc_id, g.gram, gdf.df,
    |    row_number() OVER (PARTITION BY g.doc_id
    |      ORDER BY gdf.df ASC, g.gram ASC) AS rnk,
    |    count(*) OVER (PARTITION BY g.doc_id) AS n_grams
    |  FROM grams g JOIN gdf USING (gram)
    |  WHERE g.doc_id % $sampleMod = 0),
    |sprefix AS (
    |  SELECT doc_id, gram, df FROM sranked
    |  WHERE rnk <= n_grams
    |    - ((n_grams * $thresholdNum + ${thresholdDen - 1}) // $thresholdDen)
    |    + 1),
    |dec AS (
    |  SELECT COALESCE(sum(df - 1), 0) * $sampleMod AS est_verify,
    |         (SELECT count(*) FROM documents) AS n_full
    |  FROM sprefix),
    |ex_inter AS (
    |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
    |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    |  GROUP BY 1, 2),
    |ex_res AS (
    |  SELECT d1, d2, inter, c1.n_grams AS n1, c2.n_grams AS n2
    |  FROM ex_inter
    |  JOIN counts c1 ON c1.doc_id = d1
    |  JOIN counts c2 ON c2.doc_id = d2
    |  WHERE inter * $thresholdDen >=
    |    (c1.n_grams + c2.n_grams - inter) * $thresholdNum),
    |l_cand AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    |l_inter AS (
    |  SELECT c.d1, c.d2, count(*) AS inter
    |  FROM l_cand c
    |  JOIN grams a ON a.doc_id = c.d1
    |  JOIN grams b ON b.doc_id = c.d2 AND b.gram = a.gram
    |  GROUP BY 1, 2),
    |l_res AS (
    |  SELECT i.d1, i.d2, i.inter, c1.n_grams AS n1, c2.n_grams AS n2
    |  FROM l_inter i
    |  JOIN counts c1 ON c1.doc_id = i.d1
    |  JOIN counts c2 ON c2.doc_id = i.d2
    |  WHERE i.inter * $thresholdDen >=
    |    (c1.n_grams + c2.n_grams - i.inter) * $thresholdNum)
    |SELECT d1, d2, inter, n1, n2 FROM ex_res
    |WHERE (SELECT est_verify <= 4 * n_full FROM dec)
    |UNION ALL
    |SELECT d1, d2, inter, n1, n2 FROM l_res
    |WHERE (SELECT est_verify > 4 * n_full FROM dec)
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** The at-scale n-gram Jaccard composition: MinHash-LSH candidate
    * generation ([[minhashCandidates]] — banded equi-join, cost tracks
    * signature collisions) followed by exact set verification of ONLY
    * the candidate pairs. This is the standard shape of large dedup
    * pipelines (candidates are probabilistic with tunable recall;
    * verification is exact), and the scale-safe declared path: the
    * all-pairs [[ngramJaccardPairs]] join volume is Σ_gram df² —
    * quadratic in gram co-occurrence on template-clustered corpora —
    * while this one never materializes a pair outside an LSH band
    * collision. Same (d1, d2, inter, n1, n2) schema, restricted to
    * LSH-surfaced pairs; the DuckDB oracle runs the identical
    * composition, so the check is deterministic (no recall gap between
    * engines — both use the same signatures).
    *
    * Verification joins each candidate pair to the two docs'
    * distinct-gram sets and intersects in place (`array_intersect` —
    * per-pair work bounded by the two docs, no inverted index). The
    * sets ride a broadcast-or-shuffle equi-join on doc id: linear
    * shuffle volume, candidate-count join rows. */
  /** Per-doc distinct-gram sets (sorted for stable plans) with their
    * cardinality — the verification side of every candidate-pair
    * pipeline. */
  private def gramSets(docs: DataFrame, id: Column, text: Column,
                       n: Int): DataFrame =
    explodedGrams(docs, id, text, n)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("gram"))).as("grams"),
        count(lit(1)).as("n_grams"))

  /** Exact Jaccard verification of candidate (d1, d2) pairs against
    * [[gramSets]]: intersect in place (`array_intersect`, per-pair
    * work bounded by the two docs), threshold on cross-multiplied
    * integers — shared by the LSH and prefix-filter candidate
    * generators so the verification semantics can never fork. */
  private def verifyExact(cand: DataFrame, sets: DataFrame,
                          thresholdNum: Int, thresholdDen: Int): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("d1"), col("grams").as("g1"),
        col("n_grams").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("grams").as("g2"),
        col("n_grams").as("n2")), "d2")
      .withColumn("inter",
        size(array_intersect(col("g1"), col("g2"))).cast("long"))
      .filter(col("inter") * lit(thresholdDen) >=
        (col("n1") + col("n2") - col("inter")) * lit(thresholdNum))
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"))

  def ngramJaccardViaMinhash(docs: DataFrame, id: Column, text: Column,
                             n: Int, thresholdNum: Int, thresholdDen: Int,
                             k: Int, rowsPerBand: Int = 2): DataFrame = {
    // materialize the candidate pairs (pair-count-sized, tiny next to
    // the corpus) so the id-scoping below doesn't re-execute the
    // signature + band join subplan
    val cand = Pin.pin(minhashCandidates(
      minhashSignature(docs, id, text, n, k), k, rowsPerBand))
    // gram sets ONLY for docs that appear in a candidate pair: the
    // unscoped alternative shuffles every document's distinct-gram
    // array through the groupBy — a corpus-sized shuffle at 100 TB,
    // when verification touches just the candidate docs
    val candIds = cand.select(explode(array(col("d1"), col("d2")))
      .as("__cand_doc")).distinct()
    val scoped = docs.join(candIds, id === col("__cand_doc"), "left_semi")
    verifyExact(cand, gramSets(scoped, id, text, n),
      thresholdNum, thresholdDen)
  }

  /** Full DuckDB oracle for [[ngramJaccardViaMinhash]]: the same
    * minhash → band-collision candidates → exact intersection
    * composition, in SQL. */
  def ngramJaccardViaMinhashOracleSql(n: Int, thresholdNum: Int,
                                      thresholdDen: Int, k: Int,
                                      rowsPerBand: Int = 2): String =
    s"""
    |WITH ${minhashCtes(n, k, rowsPerBand)},
    |cand AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    |counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    |inter AS (
    |  SELECT c.d1, c.d2, count(*) AS inter
    |  FROM cand c
    |  JOIN grams a ON a.doc_id = c.d1
    |  JOIN grams b ON b.doc_id = c.d2 AND b.gram = a.gram
    |  GROUP BY 1, 2)
    |SELECT i.d1, i.d2, i.inter, c1.n_grams AS n1, c2.n_grams AS n2
    |FROM inter i
    |JOIN counts c1 ON c1.doc_id = i.d1
    |JOIN counts c2 ON c2.doc_id = i.d2
    |WHERE i.inter * $thresholdDen >=
    |  (c1.n_grams + c2.n_grams - i.inter) * $thresholdNum
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** Sketch-accuracy audit for the minhash signature — the dedup
    * analog of the ANN `ann_recall` and HLL `approx_distinct` audits:
    * for every LSH candidate pair, the signature-level agreement
    * (matching components of k, whose /k ratio is the unbiased
    * Jaccard estimator) side by side with the EXACT gram-set overlap.
    * Everything is integer and deterministic (fixed perms), so the
    * oracle checks it bit-for-bit; a user reads estimate-vs-truth per
    * pair to pick k and the banding for their corpus. Gram sets are
    * scoped to candidate docs only (same reasoning as
    * [[ngramJaccardViaMinhash]] — never a corpus-wide set shuffle). */
  def minhashEstimateAudit(docs: DataFrame, id: Column, text: Column,
                           shingle: Int, k: Int,
                           rowsPerBand: Int = 2): DataFrame =
    minhashEstimateAuditWith(docs, id, text,
      Pin.pin(minhashSignature(docs, id, text, shingle, k)),
      shingle, k, rowsPerBand)

  /** [[minhashEstimateAudit]] over a PRECOMPUTED (already
    * materialized) signature frame — sweep callers compute the widest
    * signature once and feed each arm its prefix. */
  private def minhashEstimateAuditWith(docs: DataFrame, id: Column,
                                       text: Column, sigs: DataFrame,
                                       shingle: Int, k: Int,
                                       rowsPerBand: Int): DataFrame = {
    val cand = Pin.pin(minhashCandidates(sigs, k, rowsPerBand))
    val a = sigs.select(col("doc_id").as("d1") +:
      (0 until k).map(i => col(s"mh$i").as(s"__a$i")): _*)
    val b = sigs.select(col("doc_id").as("d2") +:
      (0 until k).map(i => col(s"mh$i").as(s"__b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val withSig = cand.join(a, "d1").join(b, "d2")
      .select(col("d1"), col("d2"), matches.as("sig_matches"))
    val candIds = cand.select(explode(array(col("d1"), col("d2")))
      .as("__cand_doc")).distinct()
    val scoped = docs.join(candIds, id === col("__cand_doc"), "left_semi")
    val sets = gramSets(scoped, id, text, shingle)
    withSig
      .join(sets.select(col("doc_id").as("d1"), col("grams").as("g1"),
        col("n_grams").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("grams").as("g2"),
        col("n_grams").as("n2")), "d2")
      .withColumn("inter",
        size(array_intersect(col("g1"), col("g2"))).cast("long"))
      .select(col("d1"), col("d2"), col("sig_matches"), col("inter"),
        col("n1"), col("n2"))
  }

  /** Full DuckDB oracle for [[minhashEstimateAudit]] over `documents`. */
  def minhashEstimateAuditOracleSql(shingle: Int, k: Int,
                                    rowsPerBand: Int = 2): String = {
    val matches = (0 until k)
      .map(i => s"(CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""
    |WITH ${minhashCtes(shingle, k, rowsPerBand)},
    |cand AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    |matched AS (
    |  SELECT c.d1, c.d2, $matches AS sig_matches
    |  FROM cand c JOIN mh x ON x.doc_id = c.d1 JOIN mh y ON y.doc_id = c.d2),
    |counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    |inter AS (
    |  SELECT c.d1, c.d2, count(*) AS inter
    |  FROM cand c
    |  JOIN grams a ON a.doc_id = c.d1
    |  JOIN grams b ON b.doc_id = c.d2 AND b.gram = a.gram
    |  GROUP BY 1, 2)
    |SELECT m.d1, m.d2, CAST(m.sig_matches AS BIGINT) AS sig_matches,
    |  CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
    |  c1.n_grams AS n1, c2.n_grams AS n2
    |FROM matched m
    |LEFT JOIN inter i ON i.d1 = m.d1 AND i.d2 = m.d2
    |JOIN counts c1 ON c1.doc_id = m.d1
    |JOIN counts c2 ON c2.doc_id = m.d2
    |ORDER BY m.d1, m.d2
    |""".stripMargin.trim
  }

  /** Sketch-estimated CONTAINMENT audit — the at-scale twin of
    * [[ngramContainmentPairs]]: exact containment needs both gram
    * SETS shuffled to the pair, but a stored sketch row carries only
    * the k-component signature plus one integer (the gram-set size),
    * and Broder's identity recovers containment from exactly those:
    * with Ĵ = m/k (m = matching signature components), the estimated
    * intersection is Ĵ·(n1+n2)/(1+Ĵ), so
    * `est_c_ppm = m·(n1+n2)·10⁶ div ((k+m)·min(n1,n2))` — all
    * integer, no float division. Emitted side by side with the EXACT
    * containment over the candidate-scoped gram sets (the
    * estimate-vs-truth audit shape of [[minhashEstimateAudit]]), so a
    * user reads the error their sketch width k buys before switching
    * the excerpt detector to the sketch-only path at corpus scale. */
  def containmentEstimateAudit(docs: DataFrame, id: Column, text: Column,
                               shingle: Int, k: Int,
                               rowsPerBand: Int = 2): DataFrame =
    minhashEstimateAudit(docs, id, text, shingle, k, rowsPerBand)
      .withColumn("est_c_ppm", expr(
        s"(sig_matches * (n1 + n2) * 1000000L) DIV " +
          s"(($k + sig_matches) * least(n1, n2))"))
      .withColumn("exact_c_ppm",
        expr("(inter * 1000000L) DIV least(n1, n2)"))

  /** Full DuckDB oracle for [[containmentEstimateAudit]]. */
  def containmentEstimateAuditOracleSql(shingle: Int, k: Int,
                                        rowsPerBand: Int = 2): String =
    s"""
    |SELECT d1, d2, sig_matches, inter, n1, n2,
    |  (sig_matches * (n1 + n2) * 1000000) //
    |    (($k + sig_matches) * least(n1, n2)) AS est_c_ppm,
    |  (inter * 1000000) // least(n1, n2) AS exact_c_ppm
    |FROM (${minhashEstimateAuditOracleSql(shingle, k, rowsPerBand)})
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** The minhash BANDING tuning curve in one query — the
    * [[graft.ext.Similarity.ivfProbeSweep]] discipline applied to the
    * LSH dial: for each (signature width k, rows-per-band r) banding
    * configuration — shared permutations, so a narrower k is a PREFIX
    * of the same signature — the candidate volume and its
    * exact-verify precision (share of candidates whose true gram
    * Jaccard clears `tNum/tDen`). Loose bands (r=1: any single
    * component collides) flood the verify stage; fewer bands starve
    * recall — this
    * emits the S-curve tradeoff as DATA over the user's own corpus
    * instead of the textbook formula's i.i.d. assumption. Each arm
    * reuses [[minhashEstimateAudit]] (candidates + exact inter/n1/n2)
    * wholesale, so the sweep cannot drift from the estimator audit it
    * summarizes. |arms| passes over the signature machinery; at
    * corpus scale run it on a sampled slice — the banding decision
    * needs the curve's SHAPE, not the full corpus's row count. */
  def bandSweep(docs: DataFrame, id: Column, text: Column,
                shingle: Int, configs: Seq[(Int, Int)],
                tNum: Int, tDen: Int): DataFrame = {
    require(configs.nonEmpty, "sweep needs at least one config")
    // the packed-int64 band key holds two ~31-bit components, so the
    // polynomial packing admits rowsPerBand <= 2; tighter-than-2
    // banding in production means a tuple-keyed band join (or a wider
    // key), not a third component in this packing — the constraint
    // is structural, so fail the sweep loudly rather than overflow
    configs.foreach { case (k, r) =>
      require(r <= 2, s"rowsPerBand $r > 2 overflows the packed band " +
        "key (two ~31-bit components per int64)")
      require(k % r == 0, s"k=$k must divide into bands of $r")
    }
    // the widest signature is computed and materialized ONCE; every
    // arm takes its k-component PREFIX (shared permutations), so the
    // dominant shingle->minhash kernel runs once, not |arms| times
    val kMax = configs.map(_._1).max
    val sigsMax = Pin.pin(minhashSignature(docs, id, text, shingle, kMax))
    configs.map { case (k, r) =>
      val sigsK = sigsMax.select(col("doc_id") +:
        (0 until k).map(i => col(s"mh$i")): _*)
      minhashEstimateAuditWith(docs, id, text, sigsK, shingle, k, r)
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("inter") * tDen >=
            (col("n1") + col("n2") - col("inter")) * tNum, 1L)
            .otherwise(0L)).as("n_true"))
        .select(lit(k.toLong).as("sig_k"),
          lit(r.toLong).as("rows_per_band"),
          lit((k / r).toLong).as("n_bands"),
          col("n_candidates"),
          coalesce(col("n_true"), lit(0L)).as("n_true"))
        .withColumn("precision_ppm", expr(
          "CASE WHEN n_candidates = 0 THEN 0L " +
            "ELSE (n_true * 1000000L) DIV n_candidates END"))
    }.reduce(_.unionByName(_))
  }

  /** Full DuckDB oracle for [[bandSweep]] over `documents`. */
  def bandSweepOracleSql(shingle: Int, configs: Seq[(Int, Int)],
                         tNum: Int, tDen: Int): String = {
    val arms = configs.map { case (k, r) =>
      s"""SELECT CAST($k AS BIGINT) AS sig_k,
         |  CAST($r AS BIGINT) AS rows_per_band,
         |  CAST(${k / r} AS BIGINT) AS n_bands,
         |  CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(sum(CASE WHEN inter * $tDen >=
         |    (n1 + n2 - inter) * $tNum THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_true,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |    ELSE (coalesce(sum(CASE WHEN inter * $tDen >=
         |      (n1 + n2 - inter) * $tNum THEN 1 ELSE 0 END), 0)
         |      * 1000000) // count(*) END AS BIGINT) AS precision_ppm
         |FROM (${minhashEstimateAuditOracleSql(shingle, k, r)})""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""
    |$arms
    |ORDER BY sig_k, rows_per_band
    |""".stripMargin.trim
  }

  /** Per-source duplicate-drop rates — the provenance summary of the
    * one-hop keep decision: for each source label, how many docs it
    * contributes and how many of those a near-dup dedup pass would
    * drop ([[nearDupDropIds]] semantics: the doc has a smaller-id
    * near-duplicate). The number a curation dashboard tracks per
    * crawl/source over time. One keyed left join + one small agg on
    * top of the banded pair pipeline; output is |sources| rows. */
  def dupRateBySource(docs: DataFrame, id: Column, text: Column,
                      source: Column, maxHamming: Int = 3): DataFrame = {
    val drops = nearDupDropIds(simhash(docs, id, text), maxHamming)
      .select(col("d2").as("__drop_id")).distinct()
    docs.select(id.as("doc_id"), source.as("source"))
      .join(drops, col("doc_id") === col("__drop_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__drop_id").isNotNull, 1L).otherwise(0L))
          .as("n_dropped"))
  }

  /** Full DuckDB oracle for [[dupRateBySource]] over `documents`. */
  def dupRateBySourceOracleSql(maxHamming: Int = 3): String =
    s"""
    |WITH nd_pairs AS (${simhashOracleSql(maxHamming)
      .replaceAll("ORDER BY d1, d2", "")})
    |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM nd_pairs
    |    WHERE nd_pairs.d2 = doc_id) THEN 1 ELSE 0 END) AS BIGINT)
    |    AS n_dropped
    |FROM documents GROUP BY source ORDER BY source
    |""".stripMargin.trim

  /** Split-leakage audit — the INTERNAL contamination check a
    * train/val/test split needs (the external twin is the
    * benchmark-contamination scan): every near-dup candidate pair
    * whose two docs landed in DIFFERENT splits leaks evaluation
    * content into training. Returns the (split_a, split_b) matrix of
    * pair counts, unordered labels — the off-diagonal cells are the
    * leaks, and the fix is dedup-BEFORE-split (or split by cluster
    * id), which this number verifies. Same shape as [[sourceOverlap]]:
    * provenance joins over the banded candidate join, |splits|²-bounded
    * output. */
  def splitLeakage(docs: DataFrame, id: Column, text: Column,
                   split: Column, shingle: Int, k: Int,
                   rowsPerBand: Int = 2): DataFrame = {
    val cand = minhashCandidates(
      minhashSignature(docs, id, text, shingle, k), k, rowsPerBand)
    val prov = docs.select(id.as("__pid"), split.as("__psplit"))
    cand
      .join(prov.select(col("__pid").as("d1"), col("__psplit").as("__s1")),
        "d1")
      .join(prov.select(col("__pid").as("d2"), col("__psplit").as("__s2")),
        "d2")
      .select(least(col("__s1"), col("__s2")).as("split_a"),
        greatest(col("__s1"), col("__s2")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Full DuckDB oracle for [[splitLeakage]] over `documents` with the
    * hash split assignment (`splitSqlExpr` = the split CASE over
    * doc_id, from [[graft.ext.Corpus.sampleSplitSql]]). */
  def splitLeakageOracleSql(splitSqlExpr: String, shingle: Int, k: Int,
                            rowsPerBand: Int = 2): String =
    s"""
    |WITH ${minhashCtes(shingle, k, rowsPerBand)},
    |cand AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    |prov AS (SELECT doc_id, $splitSqlExpr AS split FROM documents),
    |lab AS (
    |  SELECT least(p1.split, p2.split) AS split_a,
    |    greatest(p1.split, p2.split) AS split_b
    |  FROM cand c
    |  JOIN prov p1 ON p1.doc_id = c.d1
    |  JOIN prov p2 ON p2.doc_id = c.d2)
    |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
    |FROM lab GROUP BY 1, 2
    |ORDER BY split_a, split_b
    |""".stripMargin.trim

  /** Cross-source duplicate overlap matrix — the corpus-curation view
    * of the near-dup pair set: for every (source_a, source_b) pair of
    * provenance labels (unordered, a <= b), how many LSH candidate
    * pairs connect them. This is what tells a dataset builder that
    * crawl A largely re-scrapes crawl B (drop one), or that a source
    * mostly duplicates ITSELF (dedup within, keep across). One extra
    * provenance join per pair side + one small agg on top of the
    * banded candidate join — output is bounded by |sources|². */
  def sourceOverlap(docs: DataFrame, id: Column, text: Column,
                    source: Column, shingle: Int, k: Int,
                    rowsPerBand: Int = 2): DataFrame = {
    val cand = minhashCandidates(
      minhashSignature(docs, id, text, shingle, k), k, rowsPerBand)
    val prov = docs.select(id.as("__pid"), source.as("__psrc"))
    cand
      .join(prov.select(col("__pid").as("d1"), col("__psrc").as("__s1")),
        "d1")
      .join(prov.select(col("__pid").as("d2"), col("__psrc").as("__s2")),
        "d2")
      .select(least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Full DuckDB oracle for [[sourceOverlap]] over `documents`. */
  def sourceOverlapOracleSql(shingle: Int, k: Int,
                             rowsPerBand: Int = 2): String =
    s"""
    |WITH ${minhashCtes(shingle, k, rowsPerBand)},
    |cand AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    |prov AS (
    |  SELECT c.d1, c.d2,
    |    least(p1.source, p2.source) AS source_a,
    |    greatest(p1.source, p2.source) AS source_b
    |  FROM cand c
    |  JOIN documents p1 ON p1.doc_id = c.d1
    |  JOIN documents p2 ON p2.doc_id = c.d2)
    |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
    |FROM prov GROUP BY 1, 2
    |ORDER BY source_a, source_b
    |""".stripMargin.trim

  /** The keep/drop decision over near-dup pairs: drop every doc that
    * has a near-duplicate with a smaller id — the standard one-hop
    * rule, one anti join on the pair table instead of an iterative
    * connected-components computation. Retention caveat: on a chain
    * A–B, B–C with no A–C pair, both B and C are dropped, so C's only
    * near-duplicate (B) does not survive — a dropped doc is guaranteed
    * a smaller-id *neighbor*, not a smaller-id *survivor*. Exact
    * min-per-component retention needs connected components (iterative
    * min-propagation to fixpoint); the one-hop rule is the usual
    * at-scale trade because it never drops a whole cluster and never
    * keeps two direct near-duplicates. */
  def keepAfterNearDup(docs: DataFrame, id: Column,
                       pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("d2").as("__drop")),
      id === col("__drop"), "left_anti")

  /** Quality-aware keep/drop: among near-duplicates, keep the BEST doc
    * (highest `quality`, id as the tiebreak) instead of the smallest
    * id — what a production pipeline actually wants: dedup should
    * discard the low-quality copy, not whichever happened to arrive
    * first. Same one-hop rule and retention caveat as
    * [[keepAfterNearDup]], with "smaller id" replaced by the total
    * order (quality DESC, id ASC): a doc is dropped iff some direct
    * near-duplicate beats it. Docs whose text yields no signature
    * (too short / null) never pair and are always kept.
    *
    * Shape: banded pairs (never all-pairs), two doc-keyed broadcast-
    * able joins to attach quality to both pair ends, a doc-keyed
    * distinct on the drop set, one anti join. Scales like
    * [[simhashPairs]]. */
  def nearDupBestKeep(docs: DataFrame, id: Column, text: Column,
                      quality: Column, maxHamming: Int = 3): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("__text"),
      quality.as("quality"))
    val pairs = simhashPairs(
      simhash(base, col("doc_id"), col("__text")), maxHamming)
    // both directions: "x loses to neighbor y" must test each end.
    // explode-of-two-structs, NOT a self-union — a union would execute
    // the band-join subtree once per branch
    val edges = pairs.select(explode(array(
        struct(col("d1").as("x"), col("d2").as("y")),
        struct(col("d2").as("x"), col("d1").as("y")))).as("__e"))
      .select(col("__e.x").as("x"), col("__e.y").as("y"))
    val q = base.select(col("doc_id"), col("quality"))
    val dropped = edges
      .join(q.select(col("doc_id").as("x"), col("quality").as("__qx")),
        Seq("x"))
      .join(q.select(col("doc_id").as("y"), col("quality").as("__qy")),
        Seq("y"))
      .filter(col("__qy") > col("__qx") ||
        (col("__qy") === col("__qx") && col("y") < col("x")))
      .select(col("x").as("doc_id")).distinct()
    base.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("quality"))
  }

  /** DuckDB oracle for [[nearDupBestKeep]] over `documents`, with the
    * quality score given as a SQL expression over `text`. */
  def nearDupBestKeepOracleSql(qualitySql: String,
                               maxHamming: Int = 3): String =
    s"""
    |WITH $simhashCtes,
    |pairs AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming),
    |q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
    |edges AS (SELECT d1 AS x, d2 AS y FROM pairs
    |          UNION ALL SELECT d2 AS x, d1 AS y FROM pairs),
    |dropped AS (
    |  SELECT DISTINCT e.x AS doc_id
    |  FROM edges e
    |  JOIN q qx ON qx.doc_id = e.x
    |  JOIN q qy ON qy.doc_id = e.y
    |  WHERE qy.quality > qx.quality
    |     OR (qy.quality = qx.quality AND e.y < e.x))
    |SELECT d.doc_id, q.quality FROM documents d
    |JOIN q ON q.doc_id = d.doc_id
    |WHERE NOT EXISTS (SELECT 1 FROM dropped WHERE dropped.doc_id = d.doc_id)
    |ORDER BY d.doc_id
    |""".stripMargin.trim

  /** Provenance rollup of one-hop near-dup dedup: per surviving
    * ABSORBER, how many documents its signature neighborhood absorbed
    * and from how many distinct sources — the "what did dedup delete,
    * and on whose behalf" audit a curation pipeline publishes next to
    * its drop counts (dup_rate_by_source gives the per-victim view;
    * this is the per-survivor view). The absorber of a dropped doc is
    * the MINIMUM d1 among its near-dup pairs — the library-wide
    * smallest-id witness convention, deterministic hence
    * oracle-exact. One-hop semantics by design (the chain-consistent
    * rollup is `neardup_components`); an absorber may itself be
    * dropped by an even smaller neighbor, so that fact is published
    * as `absorber_dropped` rather than hidden. Cost: the banded pair
    * set + |dropped| grouped rows — nothing quadratic, and the
    * distinct-source count folds map-side per absorber. */
  def dedupAbsorption(docs: DataFrame, id: Column, text: Column,
                      src: Column, maxHamming: Int = 3): DataFrame = {
    val pairs = simhashPairs(simhash(docs, id, text), maxHamming)
    val absorbed = pairs.groupBy(col("d2"))
      .agg(min(col("d1")).as("absorber"))
    val srcs = docs.select(id.cast("long").as("__id"), src.as("__src"))
    val dropSet = absorbed.select(col("d2").as("__drop"))
    absorbed.join(srcs, col("d2") === col("__id"))
      .groupBy(col("absorber"))
      .agg(count(lit(1)).cast("long").as("n_absorbed"),
        countDistinct(col("__src")).cast("long").as("n_sources"))
      .join(dropSet, col("absorber") === col("__drop"), "left")
      .select(col("absorber"), col("n_absorbed"), col("n_sources"),
        when(col("__drop").isNotNull, 1L).otherwise(0L)
          .as("absorber_dropped"))
  }

  /** DuckDB twin of [[dedupAbsorption]] over `documents`. */
  def dedupAbsorptionOracleSql(maxHamming: Int = 3): String =
    s"""
    |WITH $simhashCtes,
    |pairs AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming),
    |ab AS (SELECT d2, min(d1) AS absorber FROM pairs GROUP BY d2),
    |roll AS (
    |  SELECT ab.absorber, CAST(count(*) AS BIGINT) AS n_absorbed,
    |    CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
    |  FROM ab JOIN documents d ON d.doc_id = ab.d2
    |  GROUP BY 1)
    |SELECT absorber, n_absorbed, n_sources,
    |  CAST(CASE WHEN EXISTS (SELECT 1 FROM ab x WHERE x.d2 = roll.absorber)
    |    THEN 1 ELSE 0 END AS BIGINT) AS absorber_dropped
    |FROM roll ORDER BY absorber
    |""".stripMargin.trim

  /** Distinct ids to drop under the one-hop rule (d has a smaller-id
    * doc within `maxHamming`), computed WITHOUT materializing the pair
    * set. Two-level decomposition keeps the band join off the
    * quadratic cluster blowup entirely:
    *
    *   1. identical-hash collapse: docs sharing a simhash form an
    *      exact cluster — every non-min member is dropped by its own
    *      group (hamming 0), one groupBy, no join. On a template-
    *      clustered corpus this is most of the drop set.
    *   2. representative banding: only the min-id doc per DISTINCT
    *      hash enters the band join (a cluster of k identical hashes
    *      contributes 1 row, not k — the join is over distinct
    *      signatures, so bucket sizes track signature diversity, not
    *      corpus duplication). A representative r is dropped iff some
    *      distinct hash within range has a smaller representative:
    *      min-per-hash means "∃ doc < r with hash s′" ⟺ "rep(s′) < r".
    *
    * The two legs are disjoint (non-reps vs reps), so a plain union
    * feeds the caller's anti join; only the rep leg needs a distinct,
    * over at most one row per distinct signature. */
  def nearDupDropIds(sims: DataFrame, maxHamming: Int = 3): DataFrame = {
    // one distinct-signature row per group, materialized once — it
    // feeds the exact-drop join AND both sides of the band self-join
    // (three evaluations of the signature aggregation otherwise)
    val reps = Pin.pin(sims.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep")))
    val exactDrops = sims.join(reps, "simhash")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("d2"))
    val bands = reps.select(col("rep"), col("simhash"),
      explode(array((0 until SimBands).map(b => struct(lit(b).as("band"),
        simBand(col("simhash"), b).as("bv"))): _*)).as("bs"))
      .select(col("rep"), col("simhash"), col("bs.band").as("band"),
        col("bs.bv").as("bv"))
    val a = spread(bands.select(col("band"), col("bv"),
      col("rep").as("d1"), col("simhash").as("s1")),
      col("band"), col("bv"))
    val b = bands.select(col("band").as("__b2"), col("bv").as("__v2"),
      col("rep").as("d2"), col("simhash").as("s2"))
    val repDrops = a.join(b,
        col("band") === col("__b2") && col("bv") === col("__v2") &&
          col("d1") < col("d2"))
      .filter(bit_count(col("s1").bitwiseXOR(col("s2")))
        .cast("long") <= maxHamming)
      .select(col("d2")).distinct()
    exactDrops.unionByName(repDrops)
  }

  /** Exact connected-components labels over the near-dup graph —
    * the retention-exact alternative to the one-hop rule: every doc
    * gets the MINIMUM doc id of its whole component (so "keep the
    * component minimum" keeps exactly one representative per cluster,
    * with no chain loss: on A–B, B–C the one-hop rule drops both B and
    * C leaving C no surviving neighbor; here B and C both label A and
    * only A survives).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each
    * round rewrites the edge set with two keyed aggregations —
    * large-star hangs every above-minimum neighbor off its
    * neighborhood minimum, small-star re-points each node's
    * below-it neighbors at their minimum — and the alternation
    * provably reaches the star-forest fixpoint within a LOGARITHMIC
    * number of rounds. That bound is what runs: a deterministic
    * ⌈log₂ e⌉+2 rounds with NO per-round convergence probe (no
    * driver round-trips inside the loop — at 1000 executors each
    * probe is a full cluster barrier), then ONE verification pass
    * asserting the labeling is constant across every candidate edge.
    * Constancy over the edges + self-labeled minima is a complete
    * correctness proof: star ops preserve components, so a node's
    * label stays inside its component, and the component minimum can
    * never acquire an out-edge (it has no smaller neighbor).
    *
    * Each round's edge frame is `localCheckpoint`ed: iterative
    * lineage otherwise grows a plan per round, and re-execution of a
    * truncated prefix could resample nondeterministic exchanges.
    *
    * Input: `sims` = (doc_id, simhash); components connect docs within
    * `maxHamming` (via [[simhashPairs]]' banded candidate join — never
    * all-pairs). Returns (doc_id, component) for EVERY doc; singletons
    * label themselves. */
  /** Bounded large-star/small-star contraction (Kiveris et al.
    * SoCC'14) over an explicit edge list — the shared CC core of
    * [[nearDupComponents]] and
    * [[graft.ext.Similarity.embeddingComponents]]. `pairsIn` has
    * columns (d1, d2) with d1 < d2; `vertices` one `doc_id` per
    * vertex (isolated vertices come back self-labeled). Output:
    * (doc_id, component = min reachable id). Round count is bounded
    * by ⌈log₂ edges⌉+2 with a short optimistic phase and ONE
    * verification pass — no per-round driver probes. */
  private[graft] def starComponents(pairsIn: DataFrame,
                                    vertices: DataFrame): DataFrame = {
    val pairs = Pin.pin(pairsIn
      .select(col("d2").as("u"), col("d1").as("v")).distinct())
    // Size the ITERATION frames by the measured edge count — the same
    // input-sized reasoning AQE applies, at the checkpoint boundaries
    // AQE cannot see across: a rep graph that fits one task iterates
    // with zero exchanges per round (SinglePartition satisfies every
    // clustered distribution below, so the whole loop body is one
    // stage), while a corpus-scale graph keeps the session's shuffle
    // parallelism. The count also fixes the round bound — one driver
    // scalar BEFORE the loop, none inside it.
    val nEdges = pairs.count()
    val loopParts = math.max(1L, math.min(
      vertices.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      nEdges / 2000000L + 1L)).toInt

    // large-star: every neighbor above u re-points at the minimum of
    // u's closed neighborhood. Needs symmetric adjacency; emitted
    // edges (v, m) keep the large→small invariant because v > u ≥ m.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("__m"))
      sym.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("u"), col("__m").as("v")).distinct()
    }
    // small-star: u's below-it neighbors (the stored direction) all
    // re-point at their minimum, and u joins them there.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("u")).agg(min(col("v")).as("__m"))
      e.join(m, "u").filter(col("v") =!= col("__m"))
        .select(col("v").as("u"), col("__m").as("v"))
        .unionByName(m.select(col("u"), col("__m").as("v")))
        .distinct()
    }

    def contract(start: DataFrame, rounds: Int): DataFrame = {
      var e = start
      for (_ <- 1 to rounds) e = Pin.pin(smallStar(largeStar(e)))
      e
    }
    // labels: out-edge target (the star root), or self for roots and
    // edge-less vertices. min() is defensive — at the fixpoint every
    // non-root has exactly one out-edge.
    def labelsOf(e: DataFrame): DataFrame = Pin.pin(vertices
      .select(col("doc_id"))
      .join(e.groupBy(col("u").as("doc_id"))
        .agg(min(col("v")).as("__c")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__c"), col("doc_id")).as("component")))
    // the verification pass: the labeling must be constant across
    // every candidate edge (see nearDupComponents scaladoc for why
    // this is complete)
    def consistent(labels: DataFrame): Boolean = pairs
      .join(labels.select(col("doc_id").as("u"), col("component").as("__c1")),
        Seq("u"))
      .join(labels.select(col("doc_id").as("v"), col("component").as("__c2")),
        Seq("v"))
      .filter(col("__c1") =!= col("__c2"))
      .isEmpty

    // ⌈log₂ e⌉+2 is the worst-case bound; near-dup graphs (stars and
    // short chains after the signature collapse) finish in 2-3
    // alternations, so run a short optimistic phase and pay for the
    // rest of the bound only if the single verification says so —
    // common case: optimistic rounds + ONE verification pass, zero
    // per-round probes either way
    val bound = (64 - java.lang.Long.numberOfLeadingZeros(
      math.max(2L, nEdges))).toInt + 2
    val optimistic = math.min(4, bound)
    val seed = Pin.pin(if (loopParts == 1) pairs.coalesce(1) else pairs)
    var e = contract(seed, optimistic)
    var labels = labelsOf(e)
    if (!consistent(labels)) {
      e = contract(e, bound - optimistic)
      labels = labelsOf(e)
      require(consistent(labels),
        s"star contraction not converged after $bound rounds")
    }
    labels
  }

  def nearDupComponents(sims: DataFrame, maxHamming: Int = 3): DataFrame = {
    // Level 1 — identical-signature collapse (same trick as
    // [[nearDupDropIds]]): docs sharing a simhash are hamming-0
    // connected, so only the min-id doc per DISTINCT signature enters
    // the iteration; members inherit their representative's label at
    // the end. On a template-clustered corpus this shrinks both the
    // vertex set and every chain.
    // one row per DISTINCT signature, materialized once: the rep set
    // seeds the edge build, the label init, AND the final membership
    // join — without the checkpoint each of those would re-evaluate
    // the full-corpus signature scan beneath the aggregation. (The
    // raw `sims` is deliberately NOT checkpointed: pinning a
    // corpus-sized frame in the block manager is exactly what this
    // decomposition avoids at scale; it is scanned twice — here and
    // in the membership join — same as the pre-collapse design.)
    val bySig = Pin.pin(sims.filter(col("simhash").isNotNull)
      .groupBy(col("simhash")).agg(min(col("doc_id")).as("rep")))
    val reps = bySig.select(col("rep").as("doc_id"), col("simhash"))
    // candidate edges, directed large→small (simhashPairs guarantees
    // d1 < d2); the shared contraction core materializes them once
    val labels = starComponents(
      simhashPairs(reps, maxHamming).select(col("d1"), col("d2")),
      reps.select(col("doc_id")))
    // members (non-reps) inherit their representative's label; docs
    // with a NULL signature can't band with anything — they come back
    // self-labeled rather than silently vanishing in the null-
    // rejecting equi-join
    sims.filter(col("simhash").isNotNull)
      .select(col("doc_id"), col("simhash"))
      .join(bySig, Seq("simhash"))
      .join(labels.select(col("doc_id").as("rep"),
        col("component")), Seq("rep"))
      .select(col("doc_id"), col("component"))
      .unionByName(sims.filter(col("simhash").isNull)
        .select(col("doc_id"), col("doc_id").as("component")))
  }

  /** Full DuckDB oracle for [[nearDupComponents]] over `documents`:
    * the same near-dup edges, closed transitively with a recursive CTE
    * (set-semantics UNION bounds the recursion by the finite set of
    * (doc, reachable label) pairs), then min per doc. */
  def nearDupComponentsOracleSql(maxHamming: Int = 3): String =
    s"""
    |WITH RECURSIVE $simhashCtes,
    |pairs AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming),
    |edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    |reach(doc_id, label) AS (
    |  SELECT doc_id, doc_id FROM sims
    |  UNION
    |  SELECT e.d1, r.label FROM edges e JOIN reach r ON r.doc_id = e.d2)
    |SELECT doc_id, min(label) AS component
    |FROM reach GROUP BY doc_id
    |ORDER BY doc_id
    |""".stripMargin.trim

  /** Component-aware train/valid/test assignment — the ENFORCEMENT
    * counterpart to [[splitLeakage]]'s audit. A per-document random
    * split leaks near-duplicates across the eval boundary (that's why
    * the audit exists); assigning whole NEAR-DUP COMPONENTS to one
    * split makes that leakage impossible by construction for every
    * pair EITHER detector can see: the component edge set is the
    * UNION of the simhash near-dup pairs ([[simhashPairs]]) and the
    * minhash band candidates ([[minhashCandidates]] — the
    * splitLeakage detector itself, so running the audit on this
    * split's output returns zero cross-split pairs BY CONSTRUCTION,
    * not by luck; a single-detector split measured 2 cross-split
    * minhash pairs on the fixture). Connected docs share a component
    * ([[starComponents]] over the union), and the split is a
    * deterministic hash bucket of the COMPONENT label
    * ([[graft.functions.Hashing.permBucket]] — engine-portable), so
    * components share a split. DedupSpec pins both no-straddle
    * properties directly. Determinism also buys the incremental
    * story: a new doc joining an existing component lands in that
    * component's split on the next run (component labels are
    * min-reachable-ids, stable under growth as long as the minimum
    * member stays — the standard caveat of min-label components).
    * Cut points: bucket < trainPct → train, < trainPct+validPct →
    * valid, else test. */
  def componentSplit(docs: DataFrame, id: Column, text: Column,
                     maxHamming: Int = 3, shingle: Int = 3, k: Int = 8,
                     rowsPerBand: Int = 2, trainPct: Int = 90,
                     validPct: Int = 5): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      s"bad cut points: train=$trainPct valid=$validPct")
    val d = docs.select(id.as("doc_id"), text.as("text"))
    val sPairs = simhashPairs(simhash(d, col("doc_id"), col("text")),
      maxHamming).select(col("d1"), col("d2"))
    val mPairs = minhashCandidates(
      minhashSignature(d, col("doc_id"), col("text"), shingle, k),
      k, rowsPerBand).select(col("d1"), col("d2"))
    val comp = starComponents(
      sPairs.unionByName(mPairs).distinct(), d.select(col("doc_id")))
    comp.select(col("doc_id"), col("component"),
      splitOfComponent(col("component"), trainPct, validPct).as("split"))
  }

  /** The deterministic component → split assignment of
    * [[componentSplit]]: a [[graft.functions.Hashing.permBucket]]
    * bucket of the COMPONENT label against the cut points —
    * engine-portable, so the Spark op and its DuckDB twin agree. */
  private def splitOfComponent(component: Column, trainPct: Int,
                               validPct: Int): Column = {
    val b = graft.functions.Hashing.permBucket(component, 1, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + validPct, lit("valid"))
      .otherwise(lit("test"))
  }

  /** DuckDB twin of [[componentSplit]] over `documents` (simhash and
    * minhash CTE families combined; the minhash chain is prefixed to
    * avoid CTE-name collisions). */
  def componentSplitOracleSql(maxHamming: Int = 3, shingle: Int = 3,
                              k: Int = 8, rowsPerBand: Int = 2,
                              trainPct: Int = 90,
                              validPct: Int = 5): String = {
    val b = graft.functions.Hashing.permBucketSql("component", 1, 100)
    s"""
    |WITH RECURSIVE $simhashCtes,
    |${minhashCtes(shingle, k, rowsPerBand, prefix = "mh_")},
    |spairs AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming),
    |mpairs AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM mh_bands a JOIN mh_bands b
    |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    |pairs AS (SELECT d1, d2 FROM spairs UNION SELECT d1, d2 FROM mpairs),
    |edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    |reach(doc_id, label) AS (
    |  SELECT doc_id, doc_id FROM sims
    |  UNION
    |  SELECT e.d1, r.label FROM edges e JOIN reach r ON r.doc_id = e.d2),
    |comp AS (
    |  SELECT doc_id, min(label) AS component
    |  FROM reach GROUP BY doc_id)
    |SELECT doc_id, component,
    |  CASE WHEN $b < $trainPct THEN 'train'
    |       WHEN $b < ${trainPct + validPct} THEN 'valid'
    |       ELSE 'test' END AS split
    |FROM comp ORDER BY doc_id
    |""".stripMargin.trim
  }

  /** Leakage SCRUB — the action [[splitLeakage]]'s detection report
    * demands: every train document sharing a minhash candidate pair
    * with a val/test document is flagged for removal (eval splits are
    * never touched — dropping from train is the only direction that
    * preserves the benchmark). Emits the full manifest (doc_id,
    * split, keep) so the train reader is one `keep = 1` filter.
    * Same banded candidate join as the detector — never all-pairs —
    * plus one semi-join back to the doc list. */
  def leakageScrub(docs: DataFrame, id: Column, text: Column,
                   split: Column, shingle: Int, k: Int,
                   rowsPerBand: Int = 2): DataFrame = {
    val cand = minhashCandidates(
      minhashSignature(docs, id, text, shingle, k), k, rowsPerBand)
    val prov = docs.select(id.as("__pid"), split.as("__psplit"))
    val labeled = cand
      .join(prov.select(col("__pid").as("d1"), col("__psplit").as("__s1")),
        "d1")
      .join(prov.select(col("__pid").as("d2"), col("__psplit").as("__s2")),
        "d2")
    // the train-side member of every cross-split pair, either slot
    val contaminated = labeled
      .filter(col("__s1") === "train" && col("__s2") =!= "train")
      .select(col("d1").as("bad_id"))
      .union(labeled
        .filter(col("__s2") === "train" && col("__s1") =!= "train")
        .select(col("d2").as("bad_id")))
      .distinct()
    docs.select(id.as("doc_id"), split.as("split"))
      .join(contaminated, col("doc_id") === col("bad_id"), "left")
      .select(col("doc_id"), col("split"),
        when(col("bad_id").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** DuckDB twin of [[leakageScrub]] over `documents`. */
  def leakageScrubOracleSql(splitSqlExpr: String, shingle: Int, k: Int,
                            rowsPerBand: Int = 2): String =
    s"""
    |WITH ${minhashCtes(shingle, k, rowsPerBand)},
    |cand AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    |prov AS (SELECT doc_id, $splitSqlExpr AS split FROM documents),
    |bad AS (
    |  SELECT DISTINCT CASE WHEN p1.split = 'train' THEN c.d1 ELSE c.d2
    |    END AS bad_id
    |  FROM cand c
    |  JOIN prov p1 ON p1.doc_id = c.d1
    |  JOIN prov p2 ON p2.doc_id = c.d2
    |  WHERE (p1.split = 'train') <> (p2.split = 'train'))
    |SELECT p.doc_id, p.split,
    |  CAST(CASE WHEN bad.bad_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
    |    AS keep
    |FROM prov p LEFT JOIN bad ON bad.bad_id = p.doc_id
    |ORDER BY doc_id
    |""".stripMargin.trim

  /** Boilerplate ratio — per document, the share of its distinct
    * shingles that are CORPUS-COMMON (document frequency above
    * `dfCut`): the template/navigation/license-text signal that
    * per-document quality features cannot see (a boilerplate page is
    * locally fluent; only corpus-wide gram frequency exposes it).
    * The complement of [[ngramNovelty]]'s first-seen curve: novelty
    * asks "is it new", this asks "is it everywhere". Two gram-keyed
    * hash aggregates + one join back; ppm exact. */
  def boilerplateRatio(docs: DataFrame, id: Column, text: Column,
                       n: Int, dfCut: Long): DataFrame = {
    val grams = explodedGrams(docs, id, text, n)
    val df = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("__df"))
    val perDoc = grams.join(df, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") > dfCut, 1L).otherwise(0L))
          .as("n_common"))
    docs.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).cast("long").as("n_grams"),
        coalesce(col("n_common"), lit(0L)).cast("long").as("n_common"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          expr("(n_common * 1000000) div n_grams")).otherwise(lit(0L))
          .cast("long").as("common_ppm"))
  }

  /** DuckDB twin of [[boilerplateRatio]] over `documents`. */
  def boilerplateRatioOracleSql(n: Int, dfCut: Long): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |grams AS (
    |  SELECT DISTINCT doc_id, gram
    |  FROM (SELECT doc_id,
    |          unnest(list_transform(range(greatest(len(w) - ${n - 1}, 0)),
    |            i -> ${(1 to n).map(x => s"w[i + $x]").mkString(" || ' ' || ")})) AS gram
    |        FROM w)),
    |df AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
    |per_doc AS (
    |  SELECT g.doc_id, count(*) AS n_grams,
    |    sum(CASE WHEN df.df > $dfCut THEN 1 ELSE 0 END) AS n_common
    |  FROM grams g JOIN df USING (gram)
    |  GROUP BY g.doc_id)
    |SELECT d.doc_id,
    |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
    |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
    |  CAST(CASE WHEN coalesce(n_grams, 0) > 0
    |    THEN (n_common * 1000000) // n_grams ELSE 0 END AS BIGINT)
    |    AS common_ppm
    |FROM documents d LEFT JOIN per_doc USING (doc_id)
    |ORDER BY doc_id
    |""".stripMargin.trim

  /** Duplicate-cluster size distribution — the dedup AUDIT summary:
    * how many families of each size the near-dup graph contains, and
    * how much of the corpus sits in big clusters (the boilerplate /
    * template signature: a corpus whose mass lives in size-100+
    * components has a template problem no pairwise stat shows).
    * Derived from [[nearDupComponents]]' labels with two hash
    * aggregates; |distinct sizes|-bounded output. */
  def componentSizeHist(sims: DataFrame, maxHamming: Int = 3): DataFrame =
    nearDupComponents(sims, maxHamming)
      .groupBy(col("component")).agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).cast("long").as("n_components"),
        (count(lit(1)) * col("size")).cast("long").as("n_docs"))
      .select(col("size").cast("long").as("size"), col("n_components"),
        col("n_docs"))

  /** DuckDB twin of [[componentSizeHist]] over `documents`. */
  def componentSizeHistOracleSql(maxHamming: Int = 3): String =
    s"""
    |WITH RECURSIVE $simhashCtes,
    |pairs AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming),
    |edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    |reach(doc_id, label) AS (
    |  SELECT doc_id, doc_id FROM sims
    |  UNION
    |  SELECT e.d1, r.label FROM edges e JOIN reach r ON r.doc_id = e.d2),
    |labels AS (
    |  SELECT doc_id, min(label) AS component FROM reach GROUP BY doc_id),
    |sizes AS (
    |  SELECT component, count(*) AS size FROM labels GROUP BY component)
    |SELECT CAST(size AS BIGINT) AS size,
    |  CAST(count(*) AS BIGINT) AS n_components,
    |  CAST(count(*) * size AS BIGINT) AS n_docs
    |FROM sizes GROUP BY size
    |ORDER BY size
    |""".stripMargin.trim

  /** Full DuckDB oracle for [[ngramJaccardPairs]] over `documents`. */
  def ngramJaccardOracleSql(n: Int, thresholdNum: Int,
                            thresholdDen: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |grams AS (
    |  SELECT DISTINCT doc_id, gram
    |  FROM (SELECT doc_id,
    |          unnest(list_transform(range(greatest(len(w) - ${n - 1}, 0)),
    |            i -> ${(1 to n).map(x => s"w[i + $x]").mkString(" || ' ' || ")})) AS gram
    |        FROM w)),
    |counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    |inter AS (
    |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
    |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    |  GROUP BY 1, 2)
    |SELECT d1, d2, inter, c1.n_grams AS n1, c2.n_grams AS n2
    |FROM inter
    |JOIN counts c1 ON c1.doc_id = d1
    |JOIN counts c2 ON c2.doc_id = d2
    |WHERE inter * $thresholdDen >= (c1.n_grams + c2.n_grams - inter) * $thresholdNum
    |ORDER BY d1, d2
    |""".stripMargin.trim

  // ---------------------------------------------------------------
  // Winnowing (Schleimer, Wilkerson, Aiken, SIGMOD 2003 — the MOSS
  // fingerprint selection): hash every word k-gram, slide a window
  // of w consecutive gram hashes, keep each window's MINIMUM; the
  // distinct kept values are the document's fingerprint set.
  // ---------------------------------------------------------------

  /** Winnowed fingerprint sets: per document, the distinct minima of
    * every `w`-window over the word `k`-gram hash stream (output
    * column `fps: array<long>`, plus `n_grams`).
    *
    * Why winnow instead of indexing every gram hash: the guarantee
    * is one-sided and exact — any shared word run of length
    * ≥ `w + k − 1` between two documents shares at least one
    * fingerprint VALUE, while only ~`2/(w+1)` of gram hashes are
    * retained (the expected density of window minima), so the
    * inverted index downstream is ~`(w+1)/2`× smaller than a full
    * gram index with zero recall loss above the guarantee length.
    * Fingerprints are value-sets, not positions, so the paper's
    * rightmost-minimum tie rule is irrelevant here: both engines
    * keep identical VALUES whatever the tie position.
    *
    * Documents with fewer than `w` gram hashes get the min of what
    * they have (one truncated window — `slice` truncates past the
    * end in both engines); gram-less documents (< k words) are
    * dropped, matching the oracle's `len(hs) > 0` filter. */
  def winnowedFingerprints(docs: DataFrame, id: Column, text: Column,
                           k: Int = 5, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w")
    docs.select(id.as("doc_id"), text.as("__txt"))
      .select(col("doc_id"),
        (size(words(col("__txt"))) - lit(k - 1)).cast("long").as("n_grams"),
        org.apache.spark.sql.graftext.WinnowBridge
          .column(col("__txt"), k, w, Hashing.P).as("fps"))
      .filter(col("fps").isNotNull)
      .select("doc_id", "n_grams", "fps")
  }

  /** Reference formulation of [[winnowedFingerprints]] as built-in
    * higher-order functions — the executable spec of the compiled
    * kernel (DedupSpec pins them bit-identical). CodegenFallback
    * executes each lambda element interpreted, so the kernel is ~10×
    * faster; semantics are the contract. */
  def winnowedFingerprintsHof(docs: DataFrame, id: Column, text: Column,
                              k: Int = 5, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w")
    docs.select(id.as("doc_id"), words(text).as("__wd"))
      .select(col("doc_id"),
        transform(wordGramsFrom(col("__wd"), k),
          g => Hashing.polyHash(g)).as("__h"))
      .filter(size(col("__h")) > 0)
      .select(col("doc_id"), size(col("__h")).cast("long").as("n_grams"),
        array_distinct(transform(
          sequence(lit(1), greatest(size(col("__h")) - lit(w - 1), lit(1))),
          i => array_min(slice(col("__h"), i, lit(w))))).as("fps"))
  }

  /** Per-document winnowing audit: gram count, fingerprint count,
    * and the fingerprint range — the selection-density measurement
    * (`n_fps / n_grams` ≈ 2/(w+1)) a winnowed index is sized by. */
  def winnowStats(docs: DataFrame, id: Column, text: Column,
                  k: Int = 5, w: Int = 4): DataFrame =
    winnowedFingerprints(docs, id, text, k, w)
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))

  /** Document pairs sharing ≥ `minShared` winnowed fingerprints —
    * near-dup candidates over the winnowed inverted index.
    *
    * Scale shape: explode fingerprint sets into (fp, doc) postings,
    * drop fingerprints with document frequency > `maxDf` (ubiquitous
    * boilerplate grams — the stop-gram cut every shingle index at
    * scale applies; posting lists above the cap would contribute
    * df² join pairs for content that identifies nothing), then ONE
    * fp-keyed equi-self-join bounded by maxDf² per fingerprint.
    * Never all-pairs; candidate volume is Σ_fp df·(df−1)/2 ≤
    * n_postings·maxDf/2, linear in corpus size for fixed maxDf. */
  def winnowOverlapPairs(docs: DataFrame, id: Column, text: Column,
                         k: Int = 5, w: Int = 4, minShared: Int = 2,
                         maxDf: Int = 50): DataFrame = {
    // materialize the postings ONCE: three consumers downstream (the
    // df histogram and both sides of the self-join) would otherwise
    // each re-run scan + winnow kernel + explode (same rule as the
    // simhash / minhash band indexes above)
    val postings = Pin.pin(winnowedFingerprints(docs, id, text, k, w)
      .select(col("doc_id"), explode(col("fps")).as("fp")))
    // the kept-fp set is ~6% of distinct fps (df≥2 on a mostly-unique
    // index) — broadcast it so the 10M-row postings NEVER shuffle for
    // the df filter; the only shuffle left is the fp-keyed self-join
    // over the filtered ~13% of postings
    val kept = postings.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select(col("fp"))
    val idx = postings.join(broadcast(kept), Seq("fp"))
    idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Incremental winnow overlap: pairs with the HIGHER id ≥ `newFrom`
    * — the append-only-ingest form (new docs have larger ids, so
    * `d2 ≥ newFrom` is exactly "pairs involving a new doc"), the
    * winnow twin of [[minhashCandidatesIncremental]]. The probe side
    * of the self-join is pre-filtered to the new docs' postings, so
    * the join's probe volume tracks the BATCH, not the corpus; the
    * index side and the df histogram stay corpus-wide (the persisted
    * index is maintained, not rebuilt). */
  def winnowOverlapIncremental(docs: DataFrame, id: Column, text: Column,
                               k: Int = 5, w: Int = 4, minShared: Int = 2,
                               maxDf: Int = 50, newFrom: Long): DataFrame = {
    val postings = Pin.pin(winnowedFingerprints(docs, id, text, k, w)
      .select(col("doc_id"), explode(col("fps")).as("fp")))
    val kept = postings.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select(col("fp"))
    val idx = postings.join(broadcast(kept), Seq("fp"))
    idx.as("a").join(idx.filter(col("doc_id") >= newFrom).as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** DuckDB twin of [[winnowOverlapIncremental]] over `documents`. */
  def winnowIncrementalOracleSql(k: Int, w: Int, minShared: Int,
                                 maxDf: Int, newFrom: Long): String =
    s"""
    |WITH ${winnowCtes(k, w)},
    |postings AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
    |kept AS (
    |  SELECT fp FROM postings GROUP BY fp
    |  HAVING count(*) BETWEEN 2 AND $maxDf),
    |idx AS (SELECT doc_id, fp FROM postings JOIN kept USING (fp))
    |SELECT a.doc_id AS d1, b.doc_id AS d2,
    |  CAST(count(*) AS BIGINT) AS shared_fps
    |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
    |WHERE b.doc_id >= $newFrom
    |GROUP BY 1, 2 HAVING count(*) >= $minShared
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** Shared DuckDB CTE chain for the winnowed-fingerprint pipeline
    * over `documents` — single source for both winnow oracles. */
  private def winnowCtes(k: Int, w: Int): String = {
    val gram = (1 to k).map(x => s"wd[i + $x]").mkString(" || ' ' || ")
    s"""
    |wsplit AS (SELECT doc_id, str_split(text, ' ') AS wd FROM documents),
    |hs AS (
    |  SELECT doc_id,
    |    list_transform(
    |      list_transform(range(greatest(len(wd) - ${k - 1}, 0)),
    |        i -> $gram),
    |      g -> ${Hashing.polyHashSql("g")}) AS hs
    |  FROM wsplit),
    |fps AS (
    |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
    |    list_distinct(list_transform(
    |      range(1, greatest(len(hs) - ${w - 1}, 1) + 1),
    |      i -> list_min(hs[i:i + ${w - 1}]))) AS fps
    |  FROM hs WHERE len(hs) > 0)
    |""".stripMargin.trim
  }

  /** DuckDB twin of [[winnowStats]] over `documents`. */
  def winnowStatsOracleSql(k: Int, w: Int): String =
    s"""
    |WITH ${winnowCtes(k, w)}
    |SELECT doc_id, n_grams, CAST(len(fps) AS BIGINT) AS n_fps,
    |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
    |FROM fps ORDER BY doc_id
    |""".stripMargin.trim

  /** Method-agreement matrix between two near-dup pair sets (both
    * shaped (d1, d2), d1 < d2): how many pairs each method finds
    * that the other does not — the cross-validation a curation
    * pipeline runs before trusting one dedup signal (e.g. text LSH
    * vs embedding cosine; disagreement is where semantic dup differs
    * from surface dup). One (d1, d2)-keyed full-outer join + a
    * 3-row rollup — both inputs are already bucketed candidate sets,
    * never all-pairs. */
  def pairAgreement(a: DataFrame, b: DataFrame,
                    aName: String = "text_only",
                    bName: String = "embedding_only"): DataFrame =
    a.select(col("d1"), col("d2")).withColumn("__a", lit(1L))
      .join(b.select(col("d1"), col("d2")).withColumn("__b", lit(1L)),
        Seq("d1", "d2"), "full_outer")
      .withColumn("method",
        when(col("__a").isNotNull && col("__b").isNotNull, "both")
          .when(col("__a").isNotNull, aName).otherwise(bName))
      .groupBy(col("method")).agg(count(lit(1)).as("n_pairs"))

  /** DuckDB twin of [[winnowOverlapPairs]] over `documents`. */
  def winnowOverlapOracleSql(k: Int, w: Int, minShared: Int,
                             maxDf: Int): String =
    s"""
    |WITH ${winnowCtes(k, w)},
    |postings AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
    |kept AS (
    |  SELECT fp FROM postings GROUP BY fp
    |  HAVING count(*) BETWEEN 2 AND $maxDf),
    |idx AS (SELECT doc_id, fp FROM postings JOIN kept USING (fp))
    |SELECT a.doc_id AS d1, b.doc_id AS d2,
    |  CAST(count(*) AS BIGINT) AS shared_fps
    |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
    |GROUP BY 1, 2 HAVING count(*) >= $minShared
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** Fixed-point PageRank over the near-dup candidate graph —
    * duplicate-family centrality. Within a duplicate family the
    * highest-rank doc is the one the most (and most-connected)
    * near-copies point at: the template/original the family radiates
    * from, a quality-blind canonical-representative signal that
    * complements [[nearDupBestKeep]]'s quality-score pick (a scraped
    * mirror farm has many low-centrality copies of one high-centrality
    * source page).
    *
    * Arithmetic is fixed-point BIGINT throughout — rank mass starts at
    * `SCALE div n`, each iteration redistributes `pr div deg` along
    * edges and applies damping as `(15·base) div 100 + (85·in) div
    * 100` — so the result is exact-integer deterministic across
    * engines: no float sums, no convergence epsilon, a FIXED iteration
    * count (the bounded-rounds discipline of [[starComponents]],
    * applied to rank propagation). Dangling mass never arises: nodes
    * are defined as pair members, so the symmetrized graph gives every
    * node out-degree >= 1.
    *
    * Scale shape: per iteration one equi join (edges x ranks, keyed on
    * src) + one hash agg (sum by dst) + one left join back onto the
    * node set — three shuffles on the edge/node key, the textbook
    * distributed-PageRank layout. Edges are `localCheckpoint`ed once
    * and reused every round; the node set is the pair-graph members
    * only (duplicate families), not the corpus, so the iteration
    * frames track the duplication rate, not corpus size. */
  def pairPageRank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val Scale = 1000000000000L
    val edges = Pin.pin(pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct())
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // n (node count) rides along as a 1-row broadcast crossJoin — the
    // C8 scalar-injection pattern, so the base term needs no driver hop
    val nodes = deg.select(col("src").as("doc_id"), col("deg"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("__n"))))
    var ranks = Pin.pin(nodes
      .withColumn("pr_fp", expr(s"$Scale DIV __n")))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.select(col("doc_id").as("src"),
          expr("pr_fp DIV deg").as("__c")), "src")
        .groupBy(col("dst")).agg(sum(col("__c")).as("__in"))
      ranks = Pin.pin(ranks.drop("pr_fp")
        .join(contrib.withColumnRenamed("dst", "doc_id"),
          Seq("doc_id"), "left")
        .withColumn("pr_fp", expr(
          s"(15 * ($Scale DIV __n)) DIV 100 + " +
            "(85 * coalesce(__in, 0L)) DIV 100"))
        .drop("__in"))
    }
    ranks.select(col("doc_id"), col("deg"), col("pr_fp"))
  }

  /** Full DuckDB oracle for [[pairPageRank]] over the minhash LSH
    * candidate graph: the iteration unrolls into one CTE per round
    * (fixed `iters`, so the oracle is a static statement). */
  def pairPageRankOracleSql(shingle: Int, k: Int, rowsPerBand: Int,
                            iters: Int = 3): String = {
    val Scale = "1000000000000"
    val base = s"(15 * ($Scale // (SELECT n FROM nn))) // 100"
    val iterCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "p0" else s"it${i - 1}"
      s"""it$i AS (
         |  SELECT d.doc_id, d.deg,
         |    $base + (85 * coalesce(s.insum, 0)) // 100 AS pr_fp
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst, sum(p.pr_fp // p.deg) AS insum
         |    FROM edges e JOIN $prev p ON p.doc_id = e.src
         |    GROUP BY e.dst) s ON s.dst = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""
    |WITH ${minhashCtes(shingle, k, rowsPerBand)},
    |pairs AS (
    |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    |  FROM bands a JOIN bands b
    |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    |edges AS (
    |  SELECT d1 AS src, d2 AS dst FROM pairs
    |  UNION SELECT d2, d1 FROM pairs),
    |deg AS (SELECT src AS doc_id, count(*) AS deg
    |        FROM edges GROUP BY src),
    |nn AS (SELECT count(*) AS n FROM deg),
    |p0 AS (SELECT doc_id, deg, $Scale // (SELECT n FROM nn) AS pr_fp
    |       FROM deg),
    |$iterCtes
    |SELECT doc_id, CAST(deg AS BIGINT) AS deg,
    |  CAST(pr_fp AS BIGINT) AS pr_fp
    |FROM it$iters ORDER BY doc_id
    |""".stripMargin.trim
  }
}
