package graft

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.Checks
import graft.dims.{DateDim, Scd2}
import graft.ext.{Dedup, Multimodal, SemDedup, Sessions, Similarity, TextAnalysis}
import graft.facts.FactLoader
import graft.schema.Tables

/** The declared query surface (SURVEY §7.3): one entry per operator
  * in SURVEY §2's inventory plus the training-data-pipeline extension
  * ops (§7.6), each over the driver's testdata fixtures (FIXTURES.md
  * role mapping) with a DuckDB oracle twin. Determinism rules
  * (SURVEY §7.5): canonical ORDER BY, decimal-pinned aggregates,
  * BIGINT-cast computed integers, no wall-clock columns.
  *
  * Output-type rule: no DECIMAL column ever reaches a declared query's
  * output. Aggregation folds stay exact-decimal internally (fold-order
  * determinism), but the final projection casts to DOUBLE on BOTH
  * engines — DECIMAL survives to pandas as object(Decimal) from a
  * parquet read but float64 from a DuckDB fetch, so the driver's
  * value-hash can mismatch on representation even when values agree
  * (all 8 round-1 hash misses were exactly the 8 decimal-output
  * queries). decimal->double is correctly rounded on both engines at
  * our magnitudes, so the doubles are bit-identical.
  */
object Queries {

  /** Fixed demo merge rules for `bpe_encode_count` — literals, so the
    * oracle replays the identical greedy fold (learned rules are
    * corpus-dependent).
    * Chosen to fire on the fixture vocabulary (spark/part, table,
    * merge, line/value). */
  val BpeFixedRules: Seq[(String, String)] =
    Seq(("a", "r"), ("t", "a"), ("ta", "b"), ("l", "e"))

  /** Full lineitem column set for the `profile_stats` profiler. */
  val ProfileCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  /** Fixture reader. `events.ts` is parquet TIMESTAMP(NANOS), which
    * Spark has no native type for: read it as long (the legacy
    * `nanosAsLong` conf, set in [[GraftConf.base]]) and truncate to
    * microsecond TimestampType (`div 1000` in integer space — a double
    * division would lose precision above 2^53). DuckDB reads the same
    * column as µs TIMESTAMP natively, so the oracle side needs nothing. */
  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = Tables.src(spark, sfDir, name)
    if (name == "events") {
      // encoding-robust: a NANOS-encoded feed arrives as long under
      // the legacy conf (the fixtures); a MICROS-encoded feed (e.g.
      // SynthGen's, or any Spark-written upstream) arrives as a
      // native timestamp — both normalize to µs NTZ
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case _ =>
          df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    } else df
  }

  /** Scratch root for PERSISTED-index queries (`ann_pq_persisted`):
    * build-once/search-many indexes keyed by (format/dial tag,
    * canonical fixture path, CONTENT FINGERPRINT of the source table)
    * so different scale factors never collide, a format change
    * invalidates old builds, and — the part the path alone can't give
    * — a REGENERATED fixture at the same path (new synth round/seed)
    * gets a fresh key instead of silently reusing a stale index built
    * from the old data. Lives under java.io.tmpdir — the index is
    * derived data, rebuildable from the fixtures; reuse is gated by
    * the index's own completion marker
    * ([[graft.ext.Similarity.ivfPqIndexExists]]). */
  private def indexScratch(sfDir: String, tag: String,
                           table: String): String = {
    val canon = new java.io.File(sfDir).getCanonicalPath
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = fixtureFingerprint(sfDir, table)
    s"${System.getProperty("java.io.tmpdir")}/graft-index/$tag/$canon-$fp"
  }

  /** Cheap content fingerprint of a fixture table: fold (root-relative
    * path, length, mtime) of every file under `<sfDir>/<table>.parquet`
    * into one 64-bit mix. Metadata-only — no data scan — but any
    * rewrite of the fixture (new file set, new sizes, new mtimes,
    * files moved between partition directories) changes it, which is
    * exactly the staleness signal the scratch key needs. */
  private def fixtureFingerprint(sfDir: String, table: String): String = {
    val root = new java.io.File(s"$sfDir/$table.parquet")
    val rootPath = root.getPath
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    var h = 1125899906842597L
    walk(root).foreach { f =>
      // RELATIVE path, not leaf name: a same-named file moving between
      // partition directories must change the fingerprint
      h = h * 31 + f.getPath.stripPrefix(rootPath).hashCode
      h = h * 31 + f.length()
      h = h * 31 + f.lastModified()
    }
    java.lang.Long.toHexString(h)
  }

  /** Build-and-publish an index dir ATOMICALLY: `build` writes into a
    * unique temp sibling, which is then rename(2)-published to `dir`.
    * Concurrent builders each build their own copy; exactly one
    * rename wins, the loser discards its copy and uses the winner's —
    * a reader can never observe two builds interleaved under `dir`.
    * A crash LEFTOVER at `dir` (partial build, no codes/_SUCCESS —
    * possible only for pre-atomic builds or a torn filesystem) is
    * deleted and the publish retried, so the heal path of
    * [[graft.ext.Similarity.ivfPqIndexExists]] terminates instead of
    * rebuilding forever against an unpublishable destination. */
  private def publishIndexAtomic(s: SparkSession, dir: String,
                                 exists: (SparkSession, String) => Boolean =
                                   ext.Similarity.ivfPqIndexExists)
                                (build: String => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dest = Paths.get(dir)
    Files.createDirectories(dest.getParent)
    val tmp = Files.createTempDirectory(dest.getParent, ".build-")
    // the builder writes INTO tmp (Spark creates subdirs itself)
    Files.deleteIfExists(tmp)
    try {
      build(tmp.toString)
      def tryPublish(): Boolean =
        try {
          Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
          true
        } catch { case _: java.nio.file.FileSystemException => false }
      if (!tryPublish()) {
        if (!exists(s, dir)) {
          // dest exists but is incomplete: crash leftover — heal it
          deleteDir(s, dir)
          if (!tryPublish()) {
            // a concurrent healer may have won the re-publish; if
            // nobody did, failing loudly beats an endless silent
            // build-then-discard loop against an unpublishable dest
            deleteDir(s, tmp.toString)
            if (!exists(s, dir))
              throw new RuntimeException(
                s"index publish failed and no complete index at $dir")
          }
        } else deleteDir(s, tmp.toString) // another builder won
      }
      // a SUCCESSFUL publish sweeps stale sibling builds of the same
      // fixture path (older fingerprints): each fixture regeneration
      // mints a new key, and without the sweep every old full index
      // copy would sit in tmpdir forever. AGE-GATED (the r11 caveat,
      // now code): only siblings idle past SweepAgeMs are deleted, so
      // a concurrent session still resolving the OLD fingerprint
      // finishes its read — a just-published sibling survives every
      // sweep until no live search can plausibly still hold it
      // (correctness never depended on this — a swept reader rebuilds
      // behind the completion marker — the gate removes the wasted
      // rebuild).
      sweepStaleSiblings(s, dest)
    } catch {
      case e: Throwable =>
        // a failed build must not leak a partial index copy in /tmp
        deleteDir(s, tmp.toString)
        throw e
    }
  }

  /** Grace period before a stale-fingerprint sibling is swept: a
    * concurrent session that resolved the OLD fingerprint gets this
    * long to finish its searches (10 min ≫ any single search leg). */
  private[graft] val SweepAgeMs: Long = 600000L

  /** Delete stale-fingerprint siblings of the just-published `dest`
    * that have been idle past [[SweepAgeMs]]. */
  private[graft] def sweepStaleSiblings(s: SparkSession,
                                        dest: java.nio.file.Path): Unit = {
    val base = dest.getFileName.toString
    val cutoff = System.currentTimeMillis - SweepAgeMs
    Option(dest.getParent.toFile.listFiles()).toSeq.flatten
      .filter(f => isStaleSibling(base, f.getName) &&
        f.lastModified < cutoff)
      .foreach(f => deleteDir(s, f.getPath))
  }

  /** True iff sibling `name` is a STALE build of the same fixture as
    * published `base` — same canonical prefix, different (older)
    * fingerprint token. Both names have the [[indexScratch]] shape
    * `<canon>-<fp>`; the comparison strips exactly the final `-<fp>`
    * token from EACH side and requires the remainders to be equal.
    * `startsWith(canon + "-")` was wrong here: `-` is a legal
    * character inside the sanitized canonical path, so fixture
    * `/data/sf0.1-old`'s index name starts with fixture
    * `/data/sf0.1`'s prefix and was deleted on every publish. */
  private[graft] def isStaleSibling(base: String, name: String): Boolean = {
    def stem(n: String): String = n.take(n.lastIndexOf('-').max(0))
    val canon = stem(base)
    canon.nonEmpty && name != base && !name.contains(".build-") &&
      stem(name) == canon
  }

  private def deleteDir(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Naive (NTZ) timestamp literal — the whole warehouse runs on
    * TIMESTAMP_NTZ + UTC session, matching both the parquet fixtures
    * and DuckDB's naive TIMESTAMP. */
  private def ts(s: String): LocalDateTime =
    LocalDateTime.parse(s.replace(' ', 'T'))

  /** Events with the ns->us NTZ conversion applied — the change-feed
    * source for Pipeline and the declared queries. */
  def eventsTable(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")

  /** Events at-or-after a watermark, with the comparison done on the
    * RAW nanos long BEFORE the timestamp conversion: a predicate on
    * the converted column cannot reach the parquet reader (the scan
    * showed only `IsNotNull(ts)` pushed), while the raw-space
    * comparison pushes as `GreaterThan(ts, <ns>)` and prunes row
    * groups by min/max stats — the difference between scanning a
    * day and scanning a year at 100 TB. */
  def eventsSince(spark: SparkSession, sfDir: String,
                  wm: LocalDateTime): DataFrame = {
    val df = Tables.src(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // NANOS-encoded feed. +999 ns: downstream semantics compare
        // at µs precision (the oracle sees truncated timestamps), so
        // the raw bound must admit exactly the rows whose TRUNCATED
        // value exceeds the watermark — ts_ns > wm_ns + 999 ⟺
        // trunc_µs(ts) > wm (whole-µs watermark)
        val wmNanos = java.time.Duration.between(
          LocalDateTime.of(1970, 1, 1, 0, 0), wm).toNanos
        df.filter(col("ts") > lit(wmNanos + 999L))
          .withColumn("ts",
            expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        // µs-native feed: a timestamp literal predicate pushes to the
        // parquet scan directly — no raw-space detour needed
        df.withColumn("ts", col("ts").cast("timestamp_ntz"))
          .filter(col("ts") > lit(wm))
    }
  }

  /** SCD2 change history synthesized from `events` (FIXTURES.md §C):
    * user_id = natural key, ts = change timestamp, event_type/value =
    * tracked attributes. */
  private def eventsHistory(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events").select(
      col("user_id").as("nk"), col("event_type").as("attr_type"),
      col("value").as("attr_value"), col("ts"), col("event_id"))

  private def scd2Versions(spark: SparkSession, sfDir: String): DataFrame =
    Scd2.deriveVersions(eventsHistory(spark, sfDir), "nk", "ts", Seq("event_id"))

  private val scd2Cte =
    """v AS (
      |  SELECT user_id AS nk, event_type AS attr_type, value AS attr_value,
      |    event_id, ts AS active_from,
      |    coalesce(lead(ts) OVER w, TIMESTAMP '9999-12-31 00:00:00') AS active_to,
      |    CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin

  // =================================================================
  // Parity queries (SURVEY §2)
  // =================================================================

  /** name -> (builder, oracle SQL or None for rows-only check). */
  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // J39/J44/H5-H11: calendar dimension
    ("dim_date_build",
      (s: SparkSession, _: String) =>
        DateDim.build(s, "2024-01-01", "2025-12-31").orderBy("date_value"),
      Some(DateDim.oracleSql("2024-01-01", "2025-12-31"))),

    // A3/B1/B3/C2/H1: delta view = rename + null-scrub + watermark + enrich
    ("delta_extract",
      (s: SparkSession, d: String) => {
        val e = eventsSince(s, d, ts("2024-01-20 00:00:00"))
        val c = t(s, d, "customer")
        e.join(c, col("user_id") === col("c_custkey"), "left")
          .select(col("event_id"), col("user_id").as("nk"),
            coalesce(col("event_type"), lit("")).as("event_type"),
            col("value"), col("ts").as("valid_from"),
            coalesce(col("c_name"), lit("")).as("customer_name"),
            coalesce(col("c_mktsegment"), lit("(none)")).as("segment"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id AS nk,
        |  coalesce(e.event_type, '') AS event_type, e.value,
        |  e.ts AS valid_from, coalesce(c.c_name, '') AS customer_name,
        |  coalesce(c.c_mktsegment, '(none)') AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.ts > TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY e.event_id""".stripMargin)),

    // E2/I2/G1: SCD2 derivation with surrogate keys
    ("scd2_dim",
      (s: SparkSession, d: String) =>
        Scd2.withSurrogate(scd2Versions(s, d), "dim_id",
            Seq("nk", "active_from", "event_id"))
          .select("dim_id", "nk", "attr_type", "attr_value",
            "active_from", "active_to", "is_current")
          .orderBy("dim_id"),
      Some(s"""WITH $scd2Cte
        |SELECT CAST(row_number() OVER (ORDER BY nk, active_from, event_id) AS BIGINT) AS dim_id,
        |  nk, attr_type, attr_value, active_from, active_to, is_current
        |FROM v ORDER BY dim_id""".stripMargin)),

    // SCD2 churn: versions opened vs closed per month — the
    // dimension-volatility metric that sizes history storage and
    // flags attribute thrash (a feed re-sending unchanged rows shows
    // as an open/close spike); two month rollups off the same
    // version derivation, full-outer joined on the month spine
    ("scd2_churn",
      (s: SparkSession, d: String) => Scd2.churnByMonth(scd2Versions(s, d)),
      Some(s"""WITH $scd2Cte,
        |o AS (
        |  SELECT CAST(year(active_from) * 12 + month(active_from) - 1
        |    AS BIGINT) AS month_idx, count(*) AS n_opened
        |  FROM v GROUP BY 1),
        |c AS (
        |  SELECT CAST(year(active_to) * 12 + month(active_to) - 1
        |    AS BIGINT) AS month_idx, count(*) AS n_closed
        |  FROM v WHERE is_current = 0 GROUP BY 1)
        |SELECT coalesce(o.month_idx, c.month_idx) AS month_idx,
        |  CAST(coalesce(n_opened, 0) AS BIGINT) AS n_opened,
        |  CAST(coalesce(n_closed, 0) AS BIGINT) AS n_closed
        |FROM o FULL OUTER JOIN c ON o.month_idx = c.month_idx
        |ORDER BY month_idx""".stripMargin)),

    // E1/J40: deterministic surrogate assignment
    ("surrogate_keys",
      (s: SparkSession, d: String) =>
        Scd2.withSurrogate(t(s, d, "customer"), "sk", Seq("c_custkey"))
          .select(col("sk"), col("c_custkey").as("nk"), col("c_name").as("name"))
          .orderBy("sk"),
      Some("""SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS sk,
        |  c_custkey AS nk, c_name AS name FROM customer ORDER BY sk""".stripMargin)),

    // G2/J41: unknown member row
    ("unknown_member",
      (s: SparkSession, d: String) => {
        val dim = t(s, d, "customer").select(col("c_custkey").as("nk"),
          col("c_name").as("name"), col("c_mktsegment").as("segment"))
        Scd2.withUnknownRow(dim, Map("nk" -> lit(-1L),
          "name" -> lit("Unknown"), "segment" -> lit("Unknown")))
          .orderBy("nk")
      },
      Some("""SELECT c_custkey AS nk, c_name AS name, c_mktsegment AS segment
        |FROM customer
        |UNION ALL SELECT CAST(-1 AS BIGINT), 'Unknown', 'Unknown'
        |ORDER BY nk""".stripMargin)),

    // C3/C4: temporal as-of join, half-open intervals
    ("asof_join",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "events")
        val dim = Scd2.deriveVersions(
          e.filter(col("event_type") =!= "click").select(
            col("user_id").as("nk"), col("value").as("attr_value"),
            col("ts"), col("event_id")),
          "nk", "ts", Seq("event_id"))
          .select(col("nk"), col("attr_value"), col("active_from"),
            col("active_to"))
        val probe = e.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts").as("probe_ts"))
        Scd2.asOfJoin(probe, dim, probe("user_id"), dim("nk"),
            probe("probe_ts"))
          .select(col("event_id"), col("user_id"), col("probe_ts"),
            col("attr_value").as("matched_value"),
            coalesce(col("active_from"), lit(Scd2.MinTs)).as("version_from"))
          .orderBy("event_id")
      },
      Some("""WITH dim AS (
        |  SELECT user_id AS nk, value AS attr_value, ts AS active_from,
        |    coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |      TIMESTAMP '9999-12-31 00:00:00') AS active_to
        |  FROM events WHERE event_type <> 'click'),
        |probe AS (SELECT event_id, user_id, ts AS probe_ts FROM events
        |          WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.probe_ts,
        |  d.attr_value AS matched_value,
        |  coalesce(d.active_from, TIMESTAMP '1900-01-01 00:00:00') AS version_from
        |FROM probe p LEFT JOIN dim d
        |  ON p.user_id = d.nk AND p.probe_ts >= d.active_from
        |     AND p.probe_ts < d.active_to
        |ORDER BY p.event_id""".stripMargin)),

    // C5/C6: anti-join new-rows detection
    ("anti_new_rows",
      (s: SparkSession, d: String) => {
        val c = t(s, d, "customer")
        Scd2.newVersions(c,
            c.filter(col("c_custkey") % 3 === 0), Seq("c_custkey"))
          .select(col("c_custkey").as("nk"), col("c_name").as("name"))
          .orderBy("nk")
      },
      Some("""SELECT c_custkey AS nk, c_name AS name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM customer e
        |  WHERE e.c_custkey % 3 = 0 AND e.c_custkey = c.c_custkey)
        |ORDER BY nk""".stripMargin)),

    // C7/B5/I3: delete detection
    ("deleted_keys",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "events")
        val current = e.select(col("user_id").as("nk")).distinct()
        val snapshot = e.filter(col("ts") > lit(ts("2024-01-25 00:00:00")))
          .select(col("user_id").as("nk")).distinct()
        Scd2.deletedKeys(current, snapshot, "nk").orderBy("nk")
      },
      Some("""WITH cur AS (SELECT DISTINCT user_id AS nk FROM events),
        |snap AS (SELECT DISTINCT user_id AS nk FROM events
        |         WHERE ts > TIMESTAMP '2024-01-25 00:00:00')
        |SELECT nk FROM cur
        |WHERE NOT EXISTS (SELECT 1 FROM snap WHERE snap.nk = cur.nk)
        |ORDER BY nk""".stripMargin)),

    // B4/H10/C1: fact watermark delta
    ("fact_delta",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .withColumn("last_edited",
            greatest(col("l_shipdate"), col("o_orderdate")))
          .filter(col("last_edited") > lit(ts("2000-06-01 00:00:00")))
          .select("l_orderkey", "l_linenumber", "last_edited")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l.l_orderkey, l.l_linenumber,
        |  greatest(l.l_shipdate, o.o_orderdate) AS last_edited
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE greatest(l.l_shipdate, o.o_orderdate) > TIMESTAMP '2000-06-01 00:00:00'
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin)),

    // Flagship (SURVEY §7.4): B2/C1/C8/H4/H12/H13 + unknown fallback
    ("fact_build", (s: SparkSession, d: String) => factBuild(s, d),
      Some(factBuildOracle)),

    // E3/I4: keep latest edit per key
    ("latest_per_key",
      (s: SparkSession, d: String) =>
        FactLoader.latestPerKey(t(s, d, "events"), Seq("user_id"),
            col("ts"), Seq(col("event_id")))
          .select("user_id", "event_id", "ts", "event_type", "value")
          .orderBy("user_id"),
      Some("""SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // A7: current-only mart projection
    ("mart_current",
      (s: SparkSession, d: String) =>
        scd2Versions(s, d).filter(col("is_current") === 1L)
          .select("nk", "attr_type", "attr_value").orderBy("nk"),
      Some(s"""WITH $scd2Cte
        |SELECT nk, attr_type, attr_value FROM v WHERE is_current = 1
        |ORDER BY nk""".stripMargin)),

    // D3: duplicate detection
    ("dup_check",
      (s: SparkSession, d: String) =>
        Checks.duplicates(t(s, d, "events"), Seq("user_id", "event_type"))
          .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, count(*) AS count FROM events
        |GROUP BY 1, 2 HAVING count(*) > 1
        |ORDER BY user_id, event_type""".stripMargin)),

    // C9: self theta-join interval overlap
    ("overlap_check",
      (s: SparkSession, d: String) => {
        val iv = t(s, d, "events").filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id"), col("ts").as("f"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("t"))
        Checks.overlappingPairs(iv, "user_id", "event_id", "f", "t")
          .orderBy("user_id", "id1", "id2")
      },
      Some("""WITH iv AS (SELECT user_id, event_id, ts AS f,
        |  ts + INTERVAL 1 HOUR AS t FROM events WHERE event_type = 'error')
        |SELECT a.user_id, a.event_id AS id1, b.event_id AS id2
        |FROM iv a JOIN iv b ON a.user_id = b.user_id
        |  AND a.event_id < b.event_id AND a.f < b.t AND b.f < a.t
        |ORDER BY a.user_id, id1, id2""".stripMargin)),

    // C9 scale path: the same interval invariant as a lead-window scan
    // — ONE shuffle (sort within key), no pair materialization; emits
    // each interval whose successor starts before it ends. The
    // pair-enumerating theta-join form stays declared above as the
    // reference-literal spec.
    ("overlap_runs",
      (s: SparkSession, d: String) => {
        val iv = t(s, d, "events").filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id"),
            col("ts").as("active_from"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("active_to"))
        Checks.overlaps(iv, "user_id", Seq(col("event_id")))
          .select(col("user_id"), col("event_id"),
            col("active_from"), col("active_to"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH iv AS (SELECT user_id, event_id, ts AS active_from,
        |  ts + INTERVAL 1 HOUR AS active_to
        |  FROM events WHERE event_type = 'error'),
        |nxt AS (SELECT user_id, event_id, active_from, active_to,
        |  lead(active_from) OVER (PARTITION BY user_id
        |    ORDER BY active_from, event_id) AS next_from FROM iv)
        |SELECT user_id, event_id, active_from, active_to
        |FROM nxt WHERE next_from IS NOT NULL AND active_to > next_from
        |ORDER BY user_id, event_id""".stripMargin)),

    // J42/F2: soft referential integrity probe
    ("ref_integrity",
      (s: SparkSession, d: String) =>
        Checks.refIntegrityViolations(t(s, d, "lineitem"),
            t(s, d, "part").filter(col("p_partkey") % 5 =!= 0)
              .select(col("p_partkey")),
            col("l_partkey"), col("p_partkey"))
          .select("l_orderkey", "l_linenumber", "l_partkey")
          .orderBy("l_orderkey", "l_linenumber").limit(100),
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_partkey
        |FROM lineitem l LEFT JOIN
        |  (SELECT p_partkey FROM part WHERE p_partkey % 5 <> 0) p
        |  ON l.l_partkey = p.p_partkey
        |WHERE p.p_partkey IS NULL
        |ORDER BY l.l_orderkey, l.l_linenumber LIMIT 100""".stripMargin)),

    // D2/D4: source<->DW reconciliation aggregates
    ("reconcile_totals",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(12,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(14,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_gross")),
      Some("""SELECT count(*) AS n_rows,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_gross
        |FROM lineitem""".stripMargin)),

    // Extension (§7.6): JSON extraction over events.props + keyed agg
    ("json_extract",
      (s: SparkSession, d: String) =>
        t(s, d, "events")
          .withColumn("k_value",
            get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("k_value")).as("sum_k"),
            min(col("k_value")).as("min_k"),
            max(col("k_value")).as("max_k"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(props->>'k' AS BIGINT)) AS min_k,
        |  max(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Extension: ROLLUP subtotal hierarchy (Spark rollup == SQL ROLLUP)
    ("rollup_agg",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(12,2)"))
              .cast("decimal(18,2)").cast("double").as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"),
            asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Extension: running total window frame (exact decimal accumulation)
    ("running_total",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"),
            sum(col("o_totalprice").cast("decimal(14,2)")).over(w)
              .cast("decimal(18,2)").cast("double").as("running_spend"))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DECIMAL(18,2)) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Extension: salted two-phase aggregation — same result as plain
    // GROUP BY, skew-resistant shuffle shape
    ("salted_agg",
      (s: SparkSession, d: String) =>
        ext.Skew.saltedSumCount(t(s, d, "events"), Seq("event_type"),
            col("value").cast("decimal(14,4)"), col("event_id"), 16)
          .withColumn("sum_value",
            col("sum_value").cast("decimal(18,4)").cast("double"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(14,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value,
        |  count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Extension: salted inner join — same result as the plain join,
    // hot probe keys spread over (key, salt) reducers
    ("skew_join",
      (s: SparkSession, d: String) =>
        ext.Skew.saltedJoin(
            t(s, d, "lineitem").select(col("l_partkey"),
              col("l_orderkey"),
              col("l_quantity").cast("decimal(12,2)").as("qty")),
            t(s, d, "part").select(col("p_partkey"), col("p_brand")),
            col("l_partkey"), col("p_partkey"), col("l_orderkey"), 8)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("decimal(18,2)").cast("double")
              .as("sum_qty"))
          .orderBy("p_brand"),
      Some("""SELECT p_brand, count(*) AS n_rows,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // Extension: pivot = conditional aggregation (explicit value list
    // keeps the output schema static — mandatory at scale, a dynamic
    // pivot would scan twice to discover columns)
    ("pivot_agg",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("O", "F"))
          .agg(sum(col("l_quantity").cast("decimal(12,2)"))
            .cast("decimal(18,2)").cast("double"))
          .withColumnsRenamed(Map("O" -> "qty_open", "F" -> "qty_filled"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  CAST(CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS DOUBLE) AS qty_open,
        |  CAST(CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS DOUBLE) AS qty_filled
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Extension: CUBE over two dims
    ("cube_agg",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"))
          .orderBy(asc_nulls_first("l_returnflag"),
            asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Extension: time-range sliding window (RANGE frame over epoch
    // seconds — the trailing-7-day aggregate; RANGE, not ROWS, so all
    // peers at a timestamp are in-frame and the result is
    // order-deterministic within peers)
    ("sliding_window",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        // NTZ has no direct long cast; the UTC session makes
        // ntz->ltz->epoch the same wall-clock seconds DuckDB's
        // epoch() reads off the naive timestamp
        val w = Window.partitionBy("o_custkey")
          .orderBy(expr("unix_seconds(cast(o_orderdate as timestamp))"))
          .rangeBetween(-7L * 86400, 0)
        t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"),
            sum(col("o_totalprice").cast("decimal(14,2)")).over(w)
              .cast("decimal(18,2)").cast("double").as("spend_7d"))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |    AS DECIMAL(18,2)) AS DOUBLE) AS spend_7d
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Extension: GROUPING SETS with grouping() markers (the general
    // form rollup/cube specialize; planned as one Expand + one agg)
    ("grouping_sets",
      (s: SparkSession, d: String) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_gs")
        s.sql("""SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          |  count(*) AS n_rows
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST,
          |  l_linestatus NULLS FIRST""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin)),

    // Extension: calendar arithmetic beyond DimDate (truncation,
    // month-end, day deltas, clamped month addition)
    ("date_funcs",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").select(col("o_orderkey"),
            // date_trunc yields LTZ even on NTZ input; pin back to NTZ
            date_trunc("month", col("o_orderdate")).cast("timestamp_ntz")
              .as("month_start"),
            last_day(col("o_orderdate")).as("month_end"),
            datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
              .cast("long").as("days_since"),
            expr("o_orderdate + INTERVAL '3' MONTH").as("plus_3m"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        |  o_orderdate + INTERVAL 3 MONTH AS plus_3m
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Extension: lag/lead analytics over a keyed order
    ("lag_lead",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
        t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"),
            lag(col("o_orderkey"), 1).over(w).as("prev_order"),
            lead(col("o_orderkey"), 1).over(w).as("next_order"),
            first(col("o_orderkey")).over(w).as("first_order"))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderkey, 1) OVER w AS prev_order,
        |  lead(o_orderkey, 1) OVER w AS next_order,
        |  first_value(o_orderkey) OVER w AS first_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Extension: set operations (EXCEPT/INTERSECT — SURVEY §2.G notes
    // the reference plays these with anti joins)
    ("set_ops",
      (s: SparkSession, d: String) => {
        val custKeys = t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val orderCust = t(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("k"))
        custKeys.except(orderCust)
          .unionByName(custKeys.intersect(orderCust)
            .withColumn("k", -col("k")))
          .orderBy("k")
      },
      Some("""WITH b AS (SELECT c_custkey AS k FROM customer
        |            WHERE c_mktsegment = 'BUILDING'),
        |f AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
        |SELECT k FROM ((SELECT k FROM b EXCEPT SELECT k FROM f)
        |  UNION ALL (SELECT -k FROM (SELECT k FROM b INTERSECT SELECT k FROM f)))
        |ORDER BY k""".stripMargin)),

    // Extension: array higher-order inspection over embeddings
    ("array_funcs",
      (s: SparkSession, d: String) =>
        t(s, d, "embeddings").select(col("vec_id"),
            size(col("embedding")).cast("long").as("n_dims"),
            array_max(col("embedding")).cast("double").as("max_v"),
            array_min(col("embedding")).cast("double").as("min_v"),
            element_at(col("embedding"), 1).cast("double").as("first_v"),
            size(filter(col("embedding"), _ > 0f)).cast("long").as("n_pos"))
          .orderBy("vec_id"),
      Some("""SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS n_dims,
        |  CAST(list_max(embedding) AS DOUBLE) AS max_v,
        |  CAST(list_min(embedding) AS DOUBLE) AS min_v,
        |  CAST(embedding[1] AS DOUBLE) AS first_v,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // Extension: regex extraction/replacement
    ("regex_funcs",
      (s: SparkSession, d: String) =>
        t(s, d, "part").select(col("p_partkey"),
            regexp_extract(col("p_brand"), "#(\\d+)$", 1).as("brand_num"),
            regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        |  coalesce(regexp_extract(p_brand, '#(\d+)$', 1), '') AS brand_num,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // D5: distinct projection
    ("distinct_values",
      (s: SparkSession, d: String) =>
        t(s, d, "events").select("event_type").distinct()
          .orderBy("event_type"),
      Some("SELECT DISTINCT event_type FROM events ORDER BY event_type")),

    // H3/H4: string functions (last-token extraction, composite keys)
    ("string_funcs",
      (s: SparkSession, d: String) =>
        t(s, d, "part").select(col("p_partkey"),
            substring_index(trim(col("p_name")), " ", -1).as("last_token"),
            concat_ws("-", col("p_partkey").cast("string"), col("p_brand"))
              .as("composite_nk"),
            upper(col("p_type")).as("type_uc"),
            trim(col("p_name")).as("name_trim"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        |  str_split(trim(p_name), ' ')[-1] AS last_token,
        |  CAST(p_partkey AS VARCHAR) || '-' || p_brand AS composite_nk,
        |  upper(p_type) AS type_uc, trim(p_name) AS name_trim
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // F1/F2: global top-k (TakeOrderedAndProject)
    ("top_violations",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice").cast("decimal(14,2)").cast("double")
              .as("price"))
          .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(100),
      Some("""SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS DOUBLE) AS price
        |FROM lineitem
        |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    // =============================================================
    // Extension surface (SURVEY §7.6): training-data pipeline ops
    // =============================================================

    ("exact_dedup",
      (s: SparkSession, d: String) =>
        Dedup.exactGroups(t(s, d, "documents"),
            Dedup.wordSetKey(col("text")), col("doc_id"))
          .filter(col("n_docs") > 1)
          .select("dedup_key", "keep_id", "n_docs").orderBy("keep_id"),
      Some(s"""SELECT ${Dedup.wordSetKeySql} AS dedup_key,
        |  min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin)),

    ("minhash_dedup",
      (s: SparkSession, d: String) =>
        Dedup.minhashCandidates(
          Dedup.minhashSignature(t(s, d, "documents"), col("doc_id"),
            col("text"), 3, 8), 8, 2).orderBy("d1", "d2"),
      Some(Dedup.minhashOracleSql(3, 8, 2))),

    // The LSH pre-flight (knn_cell_audit's dedup twin): (band, sig)
    // bucket-size histogram + per-size pair mass — Σ pair_mass is the
    // exact candidate volume the band join will emit, read BEFORE
    // paying for it
    ("minhash_bucket_audit",
      (s: SparkSession, d: String) =>
        Dedup.bandOccupancy(t(s, d, "documents"), 3, 8, 2),
      Some(Dedup.bandOccupancyOracleSql(3, 8, 2))),

    ("simhash_dedup",
      (s: SparkSession, d: String) =>
        Dedup.simhashPairs(
          Dedup.simhash(t(s, d, "documents"), col("doc_id"), col("text")), 3)
          .orderBy("d1", "d2"),
      Some(Dedup.simhashOracleSql(3))),

    // Scale path: LSH candidates -> exact Jaccard verify (the
    // Σ_gram df² inverted-index all-pairs form is ngramJaccardPairs,
    // kept as the exact-enumeration library routine)
    ("ngram_jaccard",
      (s: SparkSession, d: String) =>
        Dedup.ngramJaccardViaMinhash(t(s, d, "documents"), col("doc_id"),
          col("text"), 3, 1, 2, 8, 2).orderBy("d1", "d2"),
      Some(Dedup.ngramJaccardViaMinhashOracleSql(3, 1, 2, 8, 2))),

    // Internal contamination: near-dup pairs crossing train/val/test
    // boundaries (off-diagonal cells = eval content leaking into
    // training; the external twin is contamination_check)
    ("split_leakage",
      (s: SparkSession, d: String) => {
        val docs = ext.Corpus.sampleSplit(t(s, d, "documents"),
          col("doc_id"))
        Dedup.splitLeakage(docs, col("doc_id"), col("text"),
          col("split"), 3, 8, 2).orderBy("split_a", "split_b")
      },
      Some(Dedup.splitLeakageOracleSql(
        ext.Corpus.sampleSplitSql("doc_id")._2, 3, 8, 2))),

    // Leakage SCRUB — the action split_leakage's report demands:
    // train docs near-dup to any eval doc flagged, eval untouched
    ("leakage_scrub",
      (s: SparkSession, d: String) => {
        val docs = ext.Corpus.sampleSplit(t(s, d, "documents"),
          col("doc_id"))
        Dedup.leakageScrub(docs, col("doc_id"), col("text"),
          col("split"), 3, 8, 2).orderBy("doc_id")
      },
      Some(Dedup.leakageScrubOracleSql(
        ext.Corpus.sampleSplitSql("doc_id")._2, 3, 8, 2))),

    // Boilerplate share per doc: corpus-common shingle fraction —
    // the template signal local quality features cannot see
    ("boilerplate_ratio",
      (s: SparkSession, d: String) =>
        Dedup.boilerplateRatio(t(s, d, "documents"), col("doc_id"),
          col("text"), 3, 50L).orderBy("doc_id"),
      Some(Dedup.boilerplateRatioOracleSql(3, 50L))),

    // Zipf head/middle/tail vocabulary bands by cumulative token
    // mass — the tokenizer-budget split, pareto banding on the vocab
    ("zipf_bands",
      (s: SparkSession, d: String) =>
        ext.Corpus.zipfBands(t(s, d, "documents"), col("text"))
          .orderBy("band"),
      Some(ext.Corpus.zipfBandsOracleSql)),

    // Curation dashboard row: per source, contributed docs and how
    // many a near-dup pass drops (one-hop keep semantics)
    ("dup_rate_by_source",
      (s: SparkSession, d: String) =>
        Dedup.dupRateBySource(t(s, d, "documents"), col("doc_id"),
          col("text"), col("source"), 3).orderBy("source"),
      Some(Dedup.dupRateBySourceOracleSql(3))),

    // The per-survivor provenance view of the same drop decision:
    // what each absorber deleted and from how many sources (one-hop
    // min-witness semantics; chain-consistent twin = neardup_components)
    ("dedup_absorption",
      (s: SparkSession, d: String) =>
        Dedup.dedupAbsorption(t(s, d, "documents"), col("doc_id"),
          col("text"), col("source"), 3).orderBy("absorber"),
      Some(Dedup.dedupAbsorptionOracleSql(3))),

    // Corpus-curation view: which provenance sources duplicate each
    // other (and themselves) — the near-dup pair set rolled up to a
    // |sources|²-bounded overlap matrix
    ("source_overlap",
      (s: SparkSession, d: String) =>
        Dedup.sourceOverlap(t(s, d, "documents"), col("doc_id"),
          col("text"), col("source"), 3, 8, 2)
          .orderBy("source_a", "source_b"),
      Some(Dedup.sourceOverlapOracleSql(3, 8, 2))),

    // Sketch-accuracy audit: per candidate pair, minhash agreement
    // (the k-component Jaccard estimator) vs the exact gram overlap —
    // integer and perm-deterministic, so fully oracle-checked
    ("minhash_estimate",
      (s: SparkSession, d: String) =>
        Dedup.minhashEstimateAudit(t(s, d, "documents"), col("doc_id"),
          col("text"), 3, 8, 2).orderBy("d1", "d2"),
      Some(Dedup.minhashEstimateAuditOracleSql(3, 8, 2))),

    // The minhash banding tuning curve: candidate volume + exact-
    // verify precision per (signature width, rows-per-band) banding
    // config — the LSH S-curve tradeoff as data (probe-sweep
    // discipline); loose -> tight: 8 bands of 1, 4/2/1 bands of 2
    ("minhash_band_sweep",
      (s: SparkSession, d: String) =>
        Dedup.bandSweep(t(s, d, "documents"), col("doc_id"),
          col("text"), 3, Seq((8, 1), (8, 2), (4, 2), (2, 2)), 1, 2)
          .orderBy("sig_k", "rows_per_band"),
      Some(Dedup.bandSweepOracleSql(3,
        Seq((8, 1), (8, 2), (4, 2), (2, 2)), 1, 2))),

    // df-adaptive hybrid: prefix join when the sampled prefix stats
    // say verify volume stays linear; MinHash-LSH candidates
    // otherwise — the branch decision is itself replayed by the
    // oracle (SCALE.md §15)
    ("ngram_jaccard_adaptive",
      (s: SparkSession, d: String) =>
        Dedup.ngramJaccardPairsAdaptive(t(s, d, "documents"), col("doc_id"),
          col("text"), 3, 4, 5, 8, 2, 20).orderBy("d1", "d2"),
      Some(Dedup.ngramJaccardAdaptiveOracleSql(3, 4, 5, 8, 2, 20))),

    // High-threshold path: PPJoin-style prefix filtering. Lossless
    // (prefix lemma), so the oracle is the plain exact all-pairs SQL —
    // a result mismatch means the prefix filter dropped a true pair.
    ("ngram_jaccard_prefix",
      (s: SparkSession, d: String) =>
        Dedup.ngramJaccardPairsPrefix(t(s, d, "documents"), col("doc_id"),
          col("text"), 3, 4, 5).orderBy("d1", "d2"),
      Some(Dedup.ngramJaccardOracleSql(3, 4, 5))),

    // Point-in-time SCD2 snapshot: the dim exactly as a literal
    // timestamp saw it — the time-travel read every type-2 warehouse
    // answers with one interval predicate over the version chain
    ("dim_snapshot",
      (s: SparkSession, d: String) =>
        scd2Versions(s, d)
          .filter(col("active_from") <= ts("2024-02-01 00:00:00") &&
            col("active_to") > ts("2024-02-01 00:00:00"))
          .select("nk", "attr_type", "attr_value", "active_from")
          .orderBy("nk"),
      Some(s"""WITH $scd2Cte
        |SELECT nk, attr_type, attr_value, active_from FROM v
        |WHERE active_from <= TIMESTAMP '2024-02-01 00:00:00'
        |  AND active_to > TIMESTAMP '2024-02-01 00:00:00'
        |ORDER BY nk""".stripMargin)),

    // Market-basket lift over co-ordered part pairs: exact ppm
    // observed/expected ratio, support cut before the marginal joins
    ("basket_lift",
      (s: SparkSession, d: String) =>
        ext.Graph.basketLift(t(s, d, "lineitem"), 2L)
          .orderBy("u", "v"),
      Some(ext.Graph.basketLiftOracleSql(2L))),

    // k-anonymity release gate: QI group-size histogram after
    // generalization (nation x segment x 1000-bucketed balance)
    ("k_anonymity",
      (s: SparkSession, d: String) =>
        ext.Privacy.kAnonymity(t(s, d, "customer"),
          Seq(col("c_nationkey"), col("c_mktsegment"),
            ext.Privacy.bucketize(col("c_acctbal"), 1000L)), 5L)
          .orderBy("group_size"),
      Some(ext.Privacy.kAnonymityOracleSql("customer",
        Seq("c_nationkey", "c_mktsegment",
          ext.Privacy.bucketizeSql("c_acctbal", 1000L)), 5L))),

    // t-closeness: the distribution-skew gate ℓ-diversity misses —
    // per-group vs global EMD over ordered bands, closed-form via
    // cumulative prefix sums, exact integer ppm
    ("t_closeness",
      (s: SparkSession, d: String) =>
        ext.Privacy.tCloseness(t(s, d, "customer"), col("c_mktsegment"),
          ext.Privacy.bucketize(col("c_acctbal"), 2500L), 20000L),
      Some(ext.Privacy.tClosenessOracleSql("customer", "c_mktsegment",
        ext.Privacy.bucketizeSql("c_acctbal", 2500L), 20000L))),

    // Priority (PPS) sampling: token-mass-proportional fixed-n doc
    // sample — stateless hash projection + k-bounded TakeOrdered
    ("priority_sample",
      (s: SparkSession, d: String) =>
        ext.Corpus.prioritySample(t(s, d, "documents"), col("doc_id"),
          col("text"), 50),
      Some(ext.Corpus.prioritySampleOracleSql(50))),

    // Bounded-round k-core peel: delete degree<k nodes R times,
    // census after each round — the link-farm vs organic triage;
    // declared semantics ARE the bounded rounds (fixpoint depth is
    // data-dependent), each round pinned once for its two consumers
    ("kcore_rounds",
      (s: SparkSession, d: String) =>
        ext.Graph.kcoreRounds(ext.Graph.coEdges(
          t(s, d, "lineitem").filter(col("l_shipdate")
            .between("1995-01-01", "1995-03-31")),
          col("l_orderkey"), col("l_partkey")), k = 2, rounds = 4),
      Some(ext.Graph.kcoreRoundsOracleSql(
        "l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'",
        k = 2, rounds = 4))),

    // Exponential time-decay ranking: per-row integer halving by age
    // (rev div 2^age_years — bit shift, no libm), then one hash agg
    // and a k-bounded TakeOrdered: "what sells NOW" vs all-time
    ("decay_topk",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .select(col("l_partkey").cast("long").as("part_id"),
            (col("l_extendedprice").cast("decimal(14,2)") * 100)
              .cast("long").as("rev_cents"),
            // least(...,62): Spark's shiftleft wraps shift amounts
            // mod 64, so an age >= 64 (corrupt far-past shipdate)
            // would yield a wrong/negative divisor instead of
            // decaying to ~0; 2^62 already floors any BIGINT to 0-1.
            least(greatest(floor(datediff(lit("1998-12-01").cast("date"),
              col("l_shipdate")) / 365), lit(0L)), lit(62L))
              .cast("int").as("age"))
          .select(col("part_id"),
            expr("rev_cents div shiftleft(cast(1 as bigint), age)")
              .as("dk"))
          .groupBy("part_id")
          .agg(sum(col("dk")).cast("long").as("decayed_cents"))
          .orderBy(col("decayed_cents").desc, col("part_id"))
          .limit(20),
      Some("""WITH r AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS part_id,
        |    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |      AS rev_cents,
        |    least(greatest(date_diff('day', l_shipdate, DATE '1998-12-01')
        |      // 365, 0), 62) AS age
        |  FROM lineitem)
        |SELECT part_id,
        |  CAST(sum(rev_cents // (CAST(1 AS BIGINT) << age)) AS BIGINT)
        |    AS decayed_cents
        |FROM r GROUP BY part_id
        |ORDER BY decayed_cents DESC, part_id LIMIT 20""".stripMargin)),

    // Pre-join blowup audit: EXACT join-output cardinality from the
    // two sides' key histograms (Σ n_a·n_b) + the top contributing
    // keys — the "will this shuffle explode" check run BEFORE the
    // join; two hash aggs + a join on distinct keys, never the join
    ("join_size_audit",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val a = t(s, d, "orders").groupBy(col("o_custkey").as("key"))
          .agg(count(lit(1)).as("n_a"))
        val b = t(s, d, "events").groupBy(col("user_id").as("key"))
          .agg(count(lit(1)).as("n_b"))
        val wAll = Window.partitionBy()
        a.join(b, "key")
          .withColumn("contrib", col("n_a") * col("n_b"))
          .withColumn("total_est_pairs", sum(col("contrib")).over(wAll))
          .withColumn("n_common_keys", count(lit(1)).over(wAll))
          .orderBy(col("contrib").desc, col("key"))
          .limit(10)
          .select(col("key").cast("long").as("key"),
            col("n_a").cast("long").as("n_a"),
            col("n_b").cast("long").as("n_b"),
            col("contrib").cast("long").as("contrib"),
            col("total_est_pairs").cast("long").as("total_est_pairs"),
            col("n_common_keys").cast("long").as("n_common_keys"))
      },
      Some("""WITH a AS (
        |  SELECT o_custkey AS key, count(*) AS n_a FROM orders GROUP BY 1),
        |b AS (
        |  SELECT user_id AS key, count(*) AS n_b FROM events GROUP BY 1),
        |j AS (
        |  SELECT a.key, n_a, n_b, n_a * n_b AS contrib,
        |    sum(n_a * n_b) OVER () AS total_est_pairs,
        |    count(*) OVER () AS n_common_keys
        |  FROM a JOIN b ON a.key = b.key)
        |SELECT CAST(key AS BIGINT) AS key, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(contrib AS BIGINT) AS contrib,
        |  CAST(total_est_pairs AS BIGINT) AS total_est_pairs,
        |  CAST(n_common_keys AS BIGINT) AS n_common_keys
        |FROM j ORDER BY contrib DESC, key LIMIT 10""".stripMargin)),

    // Degree assortativity: hub-to-hub mixing of the co-order graph
    // (one quarter's slice — the filter pushes to the scan), Spearman
    // rank machinery over (deg_u, deg_v) edge pairs
    ("degree_assortativity",
      (s: SparkSession, d: String) =>
        ext.Graph.degreeAssortativity(ext.Graph.coEdges(
          t(s, d, "lineitem").filter(col("l_shipdate")
            .between("1995-01-01", "1995-03-31")),
          col("l_orderkey"), col("l_partkey"))),
      Some(ext.Graph.degreeAssortativityOracleSql(
        "l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'"))),

    // ℓ-diversity: the attribute-disclosure gate k-anonymity misses —
    // distinct sensitive values per QI group, histogrammed; exact
    // distinct-ℓ, three map-side-combining hash aggs
    ("l_diversity",
      (s: SparkSession, d: String) =>
        ext.Privacy.lDiversity(t(s, d, "customer"),
          Seq(col("c_nationkey"),
            ext.Privacy.bucketize(col("c_acctbal"), 2000L)),
          col("c_mktsegment"), 3L)
          .orderBy("diversity"),
      Some(ext.Privacy.lDiversityOracleSql("customer",
        Seq("c_nationkey", ext.Privacy.bucketizeSql("c_acctbal", 2000L)),
        "c_mktsegment", 3L))),

    // Numeric band (ε) self-join via δ-bucket replication: the theta
    // join that would be a per-group cartesian becomes a constant-
    // factor-2 equi-join; exact |a−b| ≤ δ post-filter keeps it
    // lossless (FuzzyJoinSpec pins bucketed ≡ brute theta)
    ("band_join",
      (s: SparkSession, d: String) =>
        ext.FuzzyJoin.bandSelfJoinAgg(t(s, d, "customer"),
          col("c_mktsegment"), col("c_custkey"),
          (col("c_acctbal").cast("decimal(12,2)") * 100).cast("long"),
          500L),
      Some(ext.FuzzyJoin.bandJoinOracleSql(500L))),

    // Corpus novelty curve: per-doc share of first-seen n-grams
    // (min-doc_id witness) — the "is this source mined out?" measure
    ("ngram_novelty",
      (s: SparkSession, d: String) =>
        Dedup.ngramNovelty(t(s, d, "documents"), col("doc_id"),
          col("text"), 3).orderBy("doc_id"),
      Some(Dedup.ngramNoveltyOracleSql(3))),

    // Exact edit-distance near-dup join (PASS-JOIN pigeonhole
    // segments + codegen threshold-levenshtein verify). Lossless
    // blocking, so the oracle is the plain banded nested-loop SQL —
    // a mismatch means a segment filter dropped a true pair.
    ("edit_neardup",
      (s: SparkSession, d: String) =>
        ext.FuzzyJoin.editNeardup(t(s, d, "documents"), col("doc_id"),
          col("text"), 40, 3).orderBy("doc_a", "doc_b"),
      Some(ext.FuzzyJoin.editNeardupOracleSql(40, 3))),

    // Entity resolution over the edit-distance graph: transitive
    // closure via the shared star-contraction core + canonical pick
    ("edit_components",
      (s: SparkSession, d: String) =>
        ext.FuzzyJoin.editComponents(t(s, d, "documents"), col("doc_id"),
          col("text"), 40, 3).orderBy("doc_id"),
      Some(ext.FuzzyJoin.editComponentsOracleSql(40, 3))),

    // Incremental twin: settled index never re-joins itself; the
    // batch pays its own segments/probes, both pigeonhole
    // orientations + cross short bucket keep it lossless
    ("edit_neardup_incremental",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        ext.FuzzyJoin.editNeardupIncremental(
          docs.filter(col("doc_id") < 400),
          docs.filter(col("doc_id") >= 400),
          col("doc_id"), col("text"), 40, 3).orderBy("doc_a", "doc_b")
      },
      Some(ext.FuzzyJoin.editNeardupIncrementalOracleSql(40, 3, 400L))),

    // The keep/drop decision: corpus minus docs with a smaller near-dup
    ("neardup_keep",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val dropIds = Dedup.nearDupDropIds(
          Dedup.simhash(docs, col("doc_id"), col("text")), 3)
        Dedup.keepAfterNearDup(docs.select("doc_id", "lang", "source"),
          col("doc_id"), dropIds).orderBy("doc_id")
      },
      Some(s"""WITH nd_pairs AS (${Dedup.simhashOracleSql(3)
        .replaceAll("ORDER BY d1, d2", "")})
        |SELECT doc_id, lang, source FROM documents
        |WHERE NOT EXISTS (SELECT 1 FROM nd_pairs WHERE nd_pairs.d2 = doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Retention-exact dedup: connected components over the near-dup
    // graph (iterative min-label propagation; oracle = recursive CTE)
    ("neardup_components",
      (s: SparkSession, d: String) =>
        Dedup.nearDupComponents(
          Dedup.simhash(t(s, d, "documents"), col("doc_id"), col("text")), 3)
          .orderBy("doc_id"),
      Some(Dedup.nearDupComponentsOracleSql(3))),

    // The split_leakage ENFORCEMENT counterpart: whole near-dup
    // components — over the UNION of the simhash pair set and the
    // minhash band candidates (the audit's own detector) — assigned
    // to one train/valid/test split via a bucket of the component
    // label, so no pair either detector can see straddles the eval
    // boundary: running split_leakage on this split's output is
    // clean BY CONSTRUCTION (DedupSpec pins it)
    ("component_split",
      (s: SparkSession, d: String) =>
        Dedup.componentSplit(t(s, d, "documents"), col("doc_id"),
          col("text"), 3).orderBy("doc_id"),
      Some(Dedup.componentSplitOracleSql(3))),

    // Dedup audit: duplicate-cluster size histogram — corpus mass in
    // big components = the template problem no pairwise stat shows
    ("component_size_hist",
      (s: SparkSession, d: String) =>
        Dedup.componentSizeHist(
          Dedup.simhash(t(s, d, "documents"), col("doc_id"), col("text")), 3)
          .orderBy("size"),
      Some(Dedup.componentSizeHistOracleSql(3))),

    // Monthly new-vs-returning order split: first-order-month witness
    // per customer, exact ppm new share
    ("new_vs_returning",
      (s: SparkSession, d: String) =>
        ext.Profiler.newVsReturning(t(s, d, "orders"), col("o_custkey"),
          col("o_orderdate")).orderBy("year", "month"),
      Some(ext.Profiler.newVsReturningOracleSql)),

    // Lag-7 rank autocorrelation of daily volume: spearman machinery
    // over exact (x_t, x_t-7) day-join pairs — weekly predictability
    ("volume_autocorr",
      (s: SparkSession, d: String) =>
        ext.Profiler.volumeAutocorr(t(s, d, "events"), col("ts"), 7),
      Some(ext.Profiler.volumeAutocorrOracleSql(7))),

    // Duplicate-family centrality: fixed-point PageRank over the
    // minhash candidate graph — which doc a duplicate family radiates
    // from (canonical-pick signal, quality-blind twin of
    // neardup_best_keep); fixed 3 iterations, exact BIGINT arithmetic
    ("neardup_pagerank",
      (s: SparkSession, d: String) =>
        Dedup.pairPageRank(
          Dedup.minhashCandidates(
            Dedup.minhashSignature(t(s, d, "documents"), col("doc_id"),
              col("text"), 3, 8), 8, 2), iters = 3)
          .orderBy("doc_id"),
      Some(Dedup.pairPageRankOracleSql(3, 8, 2, iters = 3))),

    ("embedding_topk",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some(Similarity.cosineTopKOracleSql(64, 5, 10))),

    // The symmetric k-NN graph (every vector a query — the self-join
    // the query-set ANN family avoids), cell-blocked so candidates
    // stay Σ|cell|²-bounded; mutual flag marks both-directions edges
    ("knn_graph",
      (s: SparkSession, d: String) =>
        Similarity.knnGraph(t(s, d, "embeddings"), "vec_id",
          "embedding", 64, k = 5, nCells = 16, nProbe = 2)
          .orderBy("vec_id", "rank"),
      Some(Similarity.knnGraphOracleSql(64, 5, 16, 2))),

    // The scale rung for the kNN graph: two-level O(n·√nCells)
    // assignment (the SemDeDup §23.1 remedy) so nCells can grow ∝ n
    // — each row scores sProbe supers then only their child cells;
    // everything downstream of the assignment is shared with
    // knn_graph. With sProbe = nSuper the edge set provably equals
    // the flat graph's (KnnGraphHierSpec); the declared dial probes
    // a strict subset (sProbe 2 of 4 supers). Declared on a
    // vec_id < 1000 prefix slice: the mechanism proof lives in the
    // parity pin, and the pair stage downstream of the assignment is
    // byte-shared with knn_graph (which covers the full corpus) — a
    // second full-corpus pass here bought ~10s/bench of evidence the
    // pins already carry. Prefix keeps the vec_id < nCells codebook
    // cut inside the corpus on both engines.
    ("knn_graph_hier",
      (s: SparkSession, d: String) =>
        Similarity.knnGraphHier(
          t(s, d, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", 64, k = 5, nCells = 16, nSuper = 4,
          nProbe = 2, sProbe = 2).orderBy("vec_id", "rank"),
      Some(Similarity.knnGraphHierOracleSql(64, 5, 16, 4, 2, 2,
        corpusPred = "vec_id < 1000"))),

    // The nCells-sizing pre-flight: per-cell occupancy + pair-mass
    // contribution — SUM(n_pairs) is the exact candidate cost of the
    // flat cell paths, the first-order dial §39 measured at 8×
    ("knn_cell_audit",
      (s: SparkSession, d: String) =>
        Similarity.cellOccupancy(t(s, d, "embeddings"), "vec_id",
          "embedding", nCells = 16),
      Some(Similarity.cellOccupancyOracleSql(64, 16))),

    // Its recall audit vs the exact top-k on a bounded query sample
    ("knn_graph_recall",
      (s: SparkSession, d: String) =>
        Similarity.knnGraphRecall(t(s, d, "embeddings"), "vec_id",
          "embedding", 64, k = 5, nCells = 16, nProbe = 2,
          maxQueryId = 10).orderBy("query_id"),
      Some(Similarity.knnGraphRecallOracleSql(64, 5, 16, 2, 10))),

    // Scale-path ANN: SRP-LSH buckets bound the candidate set
    ("ann_lsh",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.lshCosineTopK(emb, emb.filter(col("vec_id") < 10), 5,
          64, 6).orderBy("query_id", "rank")
      },
      Some(Similarity.lshCosineTopKOracleSql(64, 5, 10, 6))),

    // ANN quality audit: recall@k of the LSH path vs exact brute force
    ("ann_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        ext.Similarity.annRecall(emb, emb.filter(col("vec_id") < 10), 5,
          64, 6).orderBy("query_id")
      },
      Some(ext.Similarity.annRecallOracleSql(64, 5, 10, 6))),

    // Scale-path ANN #2: IVF coarse-quantizer inverted lists
    ("ann_ivf",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfCosineTopK(emb, emb.filter(col("vec_id") < 10), 5,
          16, 4).orderBy("query_id", "rank")
      },
      Some(Similarity.ivfCosineTopKOracleSql(64, 5, 10, 16, 4))),

    // The IVF nProbe tuning curve: recall@k per probe count against
    // the shared exact scan — the dial-sizing audit as data; the
    // probe-all arm is exact by construction (self-check row)
    ("ann_probe_sweep",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfProbeSweep(emb, emb.filter(col("vec_id") < 10), 5,
          16, Seq(1, 2, 4, 16)).orderBy("n_probe", "query_id")
      },
      Some(Similarity.ivfProbeSweepOracleSql(64, 5, 10, 16,
        Seq(1, 2, 4, 16)))),

    // Scale-path ANN #3: IVF-PQ — coarse cells prune the corpus, ADC
    // 1-bit sign-quantized scan (the 32x bandwidth rung below int8
    // and PQ): xor+popcount Hamming shortlist over packed sign bits,
    // exact decimal-dot re-rank of the shortlist via join-back
    ("ann_binary_topk",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.binaryTopK(emb, emb.filter(col("vec_id") < 10), 5, 64)
          .orderBy("query_id", "rank")
      },
      Some(Similarity.binaryTopKOracleSql(64, 5, 10))),

    // the production composition of the two pruning axes: IVF cells
    // cut the corpus, sign codes Hamming-shortlist INSIDE the probed
    // cells, exact re-rank joins back to floats — the sign twin of
    // ann_ivf_pq (no codebook training, coarser distances)
    ("ann_ivf_binary",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfBinaryTopK(emb, emb.filter(col("vec_id") < 10), 5,
          dim = 64, nCentroids = 16, nProbe = 4)
          .orderBy("query_id", "rank")
      },
      Some(Similarity.ivfBinaryTopKOracleSql(64, 5, 10,
        nCentroids = 16, nProbe = 4))),

    // recall@k of the 1-bit pipeline vs the exact scan — what the
    // 32x saving costs in neighbours kept
    ("ann_binary_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.binaryRecall(emb, emb.filter(col("vec_id") < 10), 5, 64)
          .orderBy("query_id")
      },
      Some(Similarity.binaryRecallOracleSql(64, 5, 10))),

    // Reciprocal-rank fusion of the two integer scan legs (int8 dot +
    // 1-bit Hamming): the multi-index ensemble, fixed-point RRF score
    // so the fused order is exact across engines
    ("ann_rrf_fusion",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.rrfFuseTopK(emb, emb.filter(col("vec_id") < 10), 5, 64)
          .orderBy("query_id", "rank")
      },
      Some(Similarity.rrfFuseTopKOracleSql(64, 5, 10))),

    // recall@k of the fused ranking vs the exact decimal scan — does
    // the ensemble of two cheap legs beat either leg alone?
    ("ann_rrf_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.rrfRecall(emb, emb.filter(col("vec_id") < 10), 5, 64)
          .orderBy("query_id")
      },
      Some(Similarity.rrfRecallOracleSql(64, 5, 10))),

    // lookup-table scoring over m-byte PQ codes inside the probed
    // cells (scan cost decoupled from float bandwidth), exact re-rank
    // of the survivor handful (which is what makes the final top-k
    // DuckDB-expressible). m=8 subspaces x ksub=16 codewords here;
    // production uses ksub=256 (the dial SCALE.md documents).
    ("ann_ivf_pq",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
          nCentroids = 16, nProbe = 4, m = 8, ksub = 16, dim = 64,
          rerank = 20).orderBy("query_id", "rank")
      },
      Some(Similarity.ivfPqTopKOracleSql(64, 5, 10, nCentroids = 16,
        nProbe = 4, m = 8, ksub = 16, rerank = 20))),

    // Incremental PQ ingest: a new batch (vec_id >= 400) searched
    // against the persisted index corpus (vec_id < 400; the split sits
    // inside every SF's vector count, so the batch is non-empty at the
    // correctness SF too) — codebooks,
    // coarse centroids, cells and codes all derive from the index
    // side only, so this is the ANN twin of dedup_incremental /
    // embedding_neardup_incremental: the batch pays its own encode +
    // nProbe probes, never a corpus re-index
    ("ann_pq_incremental",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 400),
          emb.filter(col("vec_id") >= 400), 5,
          nCentroids = 16, nProbe = 4, m = 8, ksub = 16, dim = 64,
          rerank = 20).orderBy("query_id", "rank")
      },
      Some(Similarity.ivfPqIncrementalOracleSql(64, 5, 400L,
        nCentroids = 16, nProbe = 4, m = 8, ksub = 16, rerank = 20))),

    // PQ quality audit: recall@k of the IVF-PQ path vs exact brute
    // force — the ann_recall twin for the PQ index
    ("ann_pq_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.pqRecall(emb, emb.filter(col("vec_id") < 10), 5,
          nCentroids = 16, nProbe = 4, m = 8, ksub = 16, dim = 64,
          rerank = 20).orderBy("query_id")
      },
      Some(Similarity.pqRecallOracleSql(64, 5, 10, nCentroids = 16,
        nProbe = 4, m = 8, ksub = 16, rerank = 20))),

    // DECORRELATED IVF-PQ: cells + codebooks + ADC screen in the
    // residual space after subtracting the top-2 principal
    // projections; exact re-rank in the ORIGINAL space -- the
    // spectral pre-pass feeding the index it exists for
    ("ann_pq_decorrelated",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfPqTopKDecorrelatedAuto(emb,
          emb.filter(col("vec_id") < 10), 5, nCentroids = 16,
          nProbe = 4, m = 8, ksub = 16, dim = 64, rerank = 20,
          iters = 8).orderBy("query_id", "rank")
      },
      Some(Similarity.ivfPqDecorrelatedOracleSql(64, 5, 10,
        nCentroids = 16, nProbe = 4, m = 8, ksub = 16, rerank = 20,
        iters = 8))),

    // The decorrelation A/B, measured: recall@k of the decorrelated
    // PQ path vs exact, same dials as ann_pq_recall -- the number
    // explained_ppm only estimates
    ("ann_pq_decorrelated_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.pqDecorrelatedRecall(emb,
          emb.filter(col("vec_id") < 10), 5, nCentroids = 16,
          nProbe = 4, m = 8, ksub = 16, dim = 64, rerank = 20,
          iters = 8).orderBy("query_id")
      },
      Some(Similarity.pqDecorrelatedRecallOracleSql(64, 5, 10,
        nCentroids = 16, nProbe = 4, m = 8, ksub = 16, rerank = 20,
        iters = 8))),

    // Build-once / search-many: the IVF-PQ index PERSISTED as parquet
    // (codebooks + coarse centroids + cell-partitioned m-byte codes)
    // and searched from disk — the J43-style index lifecycle the
    // in-query oracle contract cannot show. The first run at a
    // fixture pays the build (≈ ann_ivf_pq's decomp build leg) and
    // writes the index; every later run pays ONLY the search leg, so
    // this query's steady-state bench time is the measured
    // search-many cost. Results = ann_ivf_pq by construction (the
    // index is deterministic), so the oracle replays the same chain
    // from the raw tables.
    ("ann_pq_persisted",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val dir = indexScratch(d, "pq_v1_c16_m8_k16_d64", "embeddings")
        if (!Similarity.ivfPqIndexExists(s, dir))
          publishIndexAtomic(s, dir)(tmp =>
            Similarity.ivfPqWriteIndex(emb,
              Similarity.pqSampleCodebooks(emb, 8, 16, 8), 16, 8, 64, tmp))
        Similarity.ivfPqSearchPersisted(s, dir, emb,
          emb.filter(col("vec_id") < 10), 5, nProbe = 4, m = 8,
          dim = 64, rerank = 20).orderBy("query_id", "rank")
      },
      Some(Similarity.ivfPqTopKOracleSql(64, 5, 10, nCentroids = 16,
        nProbe = 4, m = 8, ksub = 16, rerank = 20))),

    // A PQ index's REBUILD TRIGGER as data: exact quantization error
    // of the appended slice (vec_id >= 400, encoded against the base
    // slice's codebooks — the ann_pq_incremental contract) vs the
    // base's own error, ratio in exact ppm: append while drift_ppm
    // holds, rebuild when it crosses the deployment's threshold
    // (J43's rebuild half as a declared query)
    ("pq_drift_audit",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.pqDriftAudit(emb,
          Similarity.pqSampleCodebooks(
            emb.filter(col("vec_id") < 400), 8, 16, 8),
          m = 8, dim = 64, splitId = 400L)
      },
      Some(Similarity.pqDriftAuditOracleSql(64, 400L, m = 8, ksub = 16))),

    // Embedding-cosine near-dup pairs (dedup suite, embedding leg):
    // 4 hash tables x 4 planes -> OR-amplified recall
    ("embedding_neardup",
      (s: SparkSession, d: String) =>
        Similarity.nearDupPairs(t(s, d, "embeddings"), "vec_id",
          "embedding", 64, 4, 0.4, nTables = 4).orderBy("d1", "d2"),
      Some(Similarity.nearDupOracleSql(64, 4, 0.4, nTables = 4))),

    // The SRP (planes, tables) tuning curve: pair recall vs the
    // exact threshold set per config — more planes cut candidates,
    // more tables buy recall back; the third dial audit after
    // ann_probe_sweep / minhash_band_sweep
    ("srp_sweep",
      (s: SparkSession, d: String) =>
        Similarity.srpSweep(t(s, d, "embeddings"), "vec_id",
          "embedding", 64, 0.4, Seq((4, 1), (4, 4), (8, 4)))
          .orderBy("n_planes", "n_tables"),
      Some(Similarity.srpSweepOracleSql(64, 0.4,
        Seq((4, 1), (4, 4), (8, 4))))),

    // The production near-dup configuration: cosine >= 0.7 keeps only
    // true near-copies (random 64-dim pairs reach it with P ≈
    // (1-t²)^32 ≈ 7e-10), and 8 planes/table (256 buckets, still
    // 4-table OR-amplified: recall ≈ 0.9998 at cos 0.99) cuts the
    // candidate volume 16× vs the 0.4 variant's 4-plane buckets —
    // the two knobs SCALE.md §2 prescribes, applied. Answer AND wall
    // time stay linear in corpus size (SCALE.md §7, planted copies).
    // The driver fixture's embeddings are unclustered (max pairwise
    // cosine ≈ 0.51), so its correct answer here is the empty set —
    // the non-empty path is exercised by SimilaritySpec and SCALE.md.
    // Density-adaptive cell partition (Voronoi over a corpus sample,
    // nProbe=2 assignment) — the clustered-corpus scale path SCALE.md
    // §10 sized: hyperplanes cannot split a dense cone; sample cells
    // subdivide it by construction
    ("embedding_neardup_cell",
      (s: SparkSession, d: String) =>
        Similarity.cellNearDupPairs(t(s, d, "embeddings"), "vec_id",
          "embedding", 64, 64, 0.7, nProbe = 2).orderBy("d1", "d2"),
      Some(Similarity.cellNearDupOracleSql(64, 64, 0.7, nProbe = 2))),

    // SemDeDup-style semantic cluster labels: the cell-path pair
    // graph closed transitively via the shared bounded
    // star-contraction core — the embedding twin of
    // neardup_components (oracle: recursive CTE)
    ("embedding_components",
      (s: SparkSession, d: String) =>
        Similarity.embeddingComponents(t(s, d, "embeddings"), 64, 64,
          0.7, nProbe = 2).orderBy("vec_id"),
      Some(Similarity.embeddingComponentsOracleSql(64, 64, 0.7,
        nProbe = 2))),

    // Two-level assignment (8 supers over 64 cells): rank √nCells
    // supers, then only the probed supers' children — O(n·√nCells)
    // assignment flops vs the flat path's n·nCells (SCALE.md §12's
    // next-decade remedy, measured there at 100×)
    ("embedding_neardup_cell_hier",
      (s: SparkSession, d: String) =>
        Similarity.cellNearDupPairsHier(t(s, d, "embeddings"), "vec_id",
          "embedding", 64, 64, 8, 0.7, nProbe = 2, sProbe = 2)
          .orderBy("d1", "d2"),
      Some(Similarity.cellNearDupHierOracleSql(64, 64, 8, 0.7,
        nProbe = 2, sProbe = 2))),

    // Incremental ingest: a new batch (vec_id >= 1500) against the
    // persisted index corpus (vec_id < 1500) — the batch probes only
    // its own nProbe cells' index occupants; the embedding twin of
    // dedup_incremental's batch-vs-band-index shape
    ("embedding_neardup_incremental",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.cellNearDupIncremental(
          emb.filter(col("vec_id") < 1500),
          emb.filter(col("vec_id") >= 1500),
          "vec_id", "embedding", 64, 64, 0.7, nProbe = 2)
          .orderBy("d1", "d2")
      },
      Some(Similarity.cellNearDupIncrementalOracleSql(64, 64, 1500L,
        0.7, nProbe = 2))),

    // Embedding-side keep/drop (semantic dedup): corpus minus vectors
    // with a smaller cell-path near-dup — the embedding twin of
    // neardup_keep's one-hop rule, so a pipeline can scrub on meaning
    // (cos ≥ t) rather than surface text
    ("embedding_dedup_keep",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val pairs = Similarity.cellNearDupPairs(emb, "vec_id",
          "embedding", 64, 64, 0.7, nProbe = 2)
        Dedup.keepAfterNearDup(emb.select("vec_id", "label"),
          col("vec_id"), pairs).orderBy("vec_id")
      },
      Some(s"""WITH nd_pairs AS (${Similarity
        .cellNearDupOracleSql(64, 64, 0.7, nProbe = 2)
        .replaceAll("ORDER BY d1, d2", "")})
        |SELECT vec_id, label FROM embeddings
        |WHERE NOT EXISTS (SELECT 1 FROM nd_pairs WHERE nd_pairs.d2 = vec_id)
        |ORDER BY vec_id""".stripMargin)),

    // Content-defined chunking (LBFS gear, Muthitacharoen et al.
    // 2001): boundaries from a rolling-window hash, so shared spans
    // cut into identical chunks at ANY offset — the shift-robust
    // complement to dup_span_stats' fixed tiles; dup groups key on
    // (hash, chunk string), the exact-guarantee convention
    ("cdc_chunk_stats",
      (s: SparkSession, d: String) =>
        Dedup.cdcChunkStats(t(s, d, "documents"), col("doc_id"),
          col("text"), win = 4, mod = 8).orderBy("doc_id"),
      Some(Dedup.cdcChunkStatsOracleSql(win = 4, mod = 8))),

    // CDC scrub: canonical-first-occurrence removal of duplicated
    // content-defined chunks + per-doc reassembly — the shift-robust
    // twin of chunk_scrub (CDC chunks tile the doc, so clean docs
    // reconstruct byte-identically)
    ("cdc_scrub",
      (s: SparkSession, d: String) =>
        Dedup.cdcScrub(t(s, d, "documents"), col("doc_id"),
          col("text"), win = 4, mod = 8).orderBy("doc_id"),
      Some(Dedup.cdcScrubOracleSql(win = 4, mod = 8))),

    // Incremental CDC ingest: new batch chunked against the persisted
    // index chunk set — the CDC twin of dedup_incremental; the batch
    // pays its own chunking + one (h, chunk)-keyed join, never a
    // corpus re-chunk
    ("cdc_incremental",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        Dedup.cdcIncremental(docs.filter(col("doc_id") < 400),
          docs.filter(col("doc_id") >= 400), col("doc_id"),
          col("text"), win = 4, mod = 8).orderBy("doc_id")
      },
      Some(Dedup.cdcIncrementalOracleSql(win = 4, mod = 8, split = 400L))),

    // SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
    // top-1 k-means cell bounds the pair space to Σ|cluster|² (the
    // published trade vs the cell path's nProbe recall device), and
    // the drop rule keeps the LEAST prototypical end of each dup pair
    ("semantic_dedup",
      (s: SparkSession, d: String) =>
        SemDedup.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
          nClusters = 16, tau = 0.4).orderBy("vec_id"),
      Some(SemDedup.semDedupOracleSql(64, nClusters = 16, tau = 0.4))),

    // semantic_dedup through the O(n·√k) two-level assignment —
    // the measured third-decade remedy (SCALE.md §23.1: flat n·k
    // assignment is 8.2 TFLOP/pass at k=16k over 2M vectors); at the
    // fixture's 16 cells / 4 supers the ranking is the real two-stage
    // plan, oracle-replayed stage for stage
    ("semantic_dedup_hier",
      (s: SparkSession, d: String) =>
        SemDedup.semDedupHier(t(s, d, "embeddings"), "vec_id",
          "embedding", nClusters = 16, nSuper = 4, tau = 0.4)
          .orderBy("vec_id"),
      Some(SemDedup.semDedupHierOracleSql(64, nClusters = 16,
        nSuper = 4, tau = 0.4))),

    // D4 prototypicality prune (Tirumala et al. 2023): drop the
    // ⌊dropFrac·|cluster|⌋ most centroid-like vectors per cluster —
    // binary-exact fraction so ⌊·⌋ agrees across engines
    ("cluster_prune",
      (s: SparkSession, d: String) =>
        SemDedup.clusterPrune(t(s, d, "embeddings"), "vec_id",
          "embedding", nClusters = 16, dropFrac = 0.25)
          .orderBy("vec_id"),
      Some(SemDedup.clusterPruneOracleSql(64, nClusters = 16,
        dropFrac = 0.25))),

    // Embedding-space noise audit: per-cluster outlier counts (cosine
    // to OWN nearest centroid below the cut) — the k-row curation
    // dashboard
    ("cluster_health",
      (s: SparkSession, d: String) =>
        SemDedup.clusterHealth(t(s, d, "embeddings"), "vec_id",
          "embedding", nClusters = 16, minCos = 0.1).orderBy("cluster"),
      Some(SemDedup.clusterHealthOracleSql(64, nClusters = 16,
        minCos = 0.1))),

    // 12 planes/table: sized by the 100× SrpStats audit (SCALE.md §10)
    // — halves clustered-corpus candidate volume vs 8 planes at 99.9%
    // measured recall (10,009/10,016 pairs at 200k vectors)
    ("embedding_neardup_strict",
      (s: SparkSession, d: String) =>
        Similarity.nearDupPairs(t(s, d, "embeddings"), "vec_id",
          "embedding", 64, 12, 0.7, nTables = 4).orderBy("d1", "d2"),
      Some(Similarity.nearDupOracleSql(64, 12, 0.7, nTables = 4))),

    // Codegen'd float dot (graft.functions.FloatVecDot) throughput
    // path. Oracle-checked after all: the double fold is a fixed
    // left-to-right IEEE sequence DuckDB's list_reduce reproduces
    // bit-for-bit (it is order-DEPENDENT, unlike the decimal path,
    // so the twin folds in the same order rather than relying on
    // associativity).
    ("ann_native_topk",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.nativeCosineTopK(emb, emb.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some(Similarity.nativeCosineTopKOracleSql(64, 5, 10))),

    // Int8-quantized brute-force search: integer dot ranking over
    // per-vector symmetric quantization — the 4x-memory-bandwidth
    // scan path the embedding_quantize audit motivates
    ("ann_quantized_topk",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some(Similarity.quantizedTopKOracleSql(64, 5, 10))),

    ("lang_id",
      (s: SparkSession, d: String) =>
        t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("pred_lang")).orderBy("doc_id"),
      Some(TextAnalysis.langIdOracleSql)),

    // Declared-label vs n-gram-prediction confusion matrix — the
    // label-audit companion to quality_agreement; off-diagonal mass =
    // mislabeled metadata or marker gaps, watched per ingest batch
    ("lang_confusion",
      (s: SparkSession, d: String) =>
        TextAnalysis.langConfusion(t(s, d, "documents"), col("lang"),
          col("text")).orderBy("lang", "pred_lang"),
      Some(TextAnalysis.langConfusionOracleSql)),

    ("quality_score",
      (s: SparkSession, d: String) =>
        TextAnalysis.qualityFeatures(
            t(s, d, "documents").select("doc_id", "text"), col("text"))
          .drop("text").orderBy("doc_id"),
      Some(s"SELECT doc_id, ${TextAnalysis.qualityFeaturesSqlColumns} " +
        "FROM documents ORDER BY doc_id")),

    ("token_count",
      (s: SparkSession, d: String) =>
        TextAnalysis.tokenCounts(
            t(s, d, "documents").select("doc_id", "text"), col("text"))
          .drop("text").orderBy("doc_id"),
      Some(s"SELECT doc_id, ${TextAnalysis.tokenCountsSqlColumns} " +
        "FROM documents ORDER BY doc_id")),

    ("doc_fingerprint",
      (s: SparkSession, d: String) =>
        TextAnalysis.fingerprints(
            t(s, d, "documents").select("doc_id", "text"), col("text"), 8)
          .drop("text").orderBy("doc_id"),
      Some(s"SELECT doc_id, ${TextAnalysis.fingerprintSqlColumns(8)} " +
        "FROM documents ORDER BY doc_id")),

    // Duplicated-span scrub stats: non-overlapping k-word tiles,
    // corpus-wide occurrence counts (the scalable exact-substring
    // dedup of Lee et al. 2022 — tile, never suffix-array)
    ("dup_span_stats",
      (s: SparkSession, d: String) =>
        ext.Dedup.chunkDupStats(t(s, d, "documents"), col("doc_id"),
          col("text"), 5).orderBy("doc_id"),
      Some(ext.Dedup.chunkDupStatsOracleSql(5))),

    // The scrub the span stats measure: drop duplicated tiles, keep
    // one canonical first occurrence, re-emit cleaned text
    ("chunk_scrub",
      (s: SparkSession, d: String) =>
        ext.Dedup.chunkScrub(t(s, d, "documents"), col("doc_id"),
          col("text"), 5).orderBy("doc_id"),
      Some(ext.Dedup.chunkScrubOracleSql(5))),

    // Asymmetric containment pairs (|A∩B|/|A| on the smaller gram
    // set): the excerpt/quote detector symmetric Jaccard misses
    ("ngram_containment",
      (s: SparkSession, d: String) =>
        ext.Dedup.ngramContainmentPairs(t(s, d, "documents"),
          col("doc_id"), col("text"), 3, 4, 5).orderBy("d1", "d2"),
      Some(ext.Dedup.ngramContainmentOracleSql(3, 4, 5))),

    // Sketch-estimated containment audit (Broder identity over the
    // signature agreement + stored set sizes) vs exact containment —
    // the at-scale excerpt detector's estimate-vs-truth report
    ("containment_estimate",
      (s: SparkSession, d: String) =>
        ext.Dedup.containmentEstimateAudit(t(s, d, "documents"),
          col("doc_id"), col("text"), 3, 8, 2).orderBy("d1", "d2"),
      Some(ext.Dedup.containmentEstimateAuditOracleSql(3, 8, 2))),

    // Full Gopher quality-rule set (Rae et al. 2021 §A1.1): per-rule
    // 0/1 flags + conjunctive keep, auditable per source
    ("gopher_rules",
      (s: SparkSession, d: String) =>
        TextAnalysis.gopherRules(t(s, d, "documents"), col("doc_id"),
          col("text")).orderBy("doc_id"),
      Some(TextAnalysis.gopherRulesOracleSql)),

    // Per-source Gopher rejection profile: which rule rejects how
    // much of each source + survivors of the conjunction
    ("gopher_reject_stats",
      (s: SparkSession, d: String) =>
        TextAnalysis.gopherRejectStats(t(s, d, "documents"),
          col("doc_id"), col("text"), col("source")).orderBy("g"),
      Some(TextAnalysis.gopherRejectStatsOracleSql)),

    // BM25-family retrieval top-k for a literal probe query —
    // all-integer rational idf/tf-saturation image (zero
    // transcendentals), stats via one O(|terms|) driver hop,
    // scoring a pure projection + TakeOrdered
    ("bm25_topk",
      (s: SparkSession, d: String) =>
        ext.Corpus.bm25TopK(t(s, d, "documents"), col("doc_id"),
          col("text"), Seq("spark", "merge", "window", "customer"), 20),
      Some(ext.Corpus.bm25TopKOracleSql(
        Seq("spark", "merge", "window", "customer"), 20))),

    // Pseudo-relevance-feedback expansion: non-seed terms of the
    // BM25 top-20, ranked by feedback-tf x rational idf — the
    // second-pass query builder; feedback vocab broadcasts, the df
    // agg is semi-join pruned to it
    ("bm25_prf_expand",
      (s: SparkSession, d: String) =>
        ext.Corpus.bm25PrfExpand(t(s, d, "documents"), col("doc_id"),
          col("text"), Seq("spark", "merge", "window", "customer"),
          kDocs = 20, mTerms = 15),
      Some(ext.Corpus.bm25PrfExpandOracleSql(
        Seq("spark", "merge", "window", "customer"), 20, 15))),

    // Hybrid retrieval: RRF fusion of the BM25 text leg and the
    // cosine vector leg over the union of their top-20 lists —
    // fixed-point 1e9 div (rank+60) so the fused order is exact;
    // the fusion windows sort <= 2*depth rows, never the corpus
    ("hybrid_rrf_topk",
      (s: SparkSession, d: String) =>
        Similarity.hybridRrfTopK(t(s, d, "documents"),
          t(s, d, "embeddings"),
          Seq("spark", "merge", "window", "customer"),
          queryVecId = 0L, k = 10, depth = 20).orderBy("rank"),
      Some(Similarity.hybridRrfTopKOracleSql(64,
        Seq("spark", "merge", "window", "customer"),
        queryVecId = 0L, k = 10, depth = 20))),

    // RAG/embedding chunk manifest: overlapping 32-word windows every
    // 24 words — a pure explode projection, (doc_id, chunk_idx) keys
    ("doc_chunk",
      (s: SparkSession, d: String) =>
        ext.Corpus.docChunks(t(s, d, "documents"), col("doc_id"),
          col("text"), chunkLen = 32, stride = 24)
          .orderBy("doc_id", "chunk_idx"),
      Some(ext.Corpus.docChunksOracleSql(32, 24))),

    // Maximal duplicated spans: consecutive duplicated tiles merged
    // into (start, length) runs via island detection
    ("dup_span_merge",
      (s: SparkSession, d: String) =>
        ext.Dedup.dupSpanMerge(t(s, d, "documents"), col("doc_id"),
          col("text"), 5).orderBy("doc_id", "span_start_word"),
      Some(ext.Dedup.dupSpanMergeOracleSql(5))),

    // Exact-substring verification of the span candidates: hash
    // candidates are string-compared within their bucket, so the dup
    // decision carries a true Lee-et-al. exact-match guarantee and
    // polyhash collisions are counted + rejected, never scrubbed
    ("dup_span_exact",
      (s: SparkSession, d: String) =>
        ext.Dedup.chunkDupExact(t(s, d, "documents"), col("doc_id"),
          col("text"), 5).orderBy("doc_id"),
      Some(ext.Dedup.chunkDupExactOracleSql(5))),

    // The scrub under the exact guarantee: duplicate groups keyed on
    // the tile string itself (hash kept as a comparison prefix)
    ("chunk_scrub_exact",
      (s: SparkSession, d: String) =>
        ext.Dedup.chunkScrub(t(s, d, "documents"), col("doc_id"),
          col("text"), 5, exact = true).orderBy("doc_id"),
      Some(ext.Dedup.chunkScrubOracleSql(5, exact = true))),

    // Suffix-array rung of the exact-dedup ladder (ext.SuffixArray):
    // Manber-Myers prefix doubling, distributed as log2(p) keyed
    // joins + range-partitioned two-phase dense ranks — the oracle is
    // the textbook spec (dense_rank over the 8-token prefix string)
    ("sa_prefix_rank",
      (s: SparkSession, d: String) =>
        ext.SuffixArray.prefixRanks(t(s, d, "documents"), col("doc_id"),
          col("text"), 8).orderBy("doc_id", "pos"),
      Some(ext.SuffixArray.prefixRanksOracleSql(8))),

    // Exact alignment-free duplicated windows: positions whose
    // 5-token window recurs ANYWHERE in the corpus — no tile
    // alignment, no hash trust; equality is the suffix-rank witness
    ("sa_dup_windows",
      (s: SparkSession, d: String) =>
        ext.SuffixArray.dupWindows(t(s, d, "documents"), col("doc_id"),
          col("text"), 5).orderBy("doc_id", "pos"),
      Some(ext.SuffixArray.dupWindowsOracleSql(5))),

    // Maximal duplicated spans from the alignment-free windows —
    // the Lee-et-al. scrub unit, islands merged per doc
    ("sa_dup_spans",
      (s: SparkSession, d: String) =>
        ext.SuffixArray.dupSpans(t(s, d, "documents"), col("doc_id"),
          col("text"), 5).orderBy("doc_id", "span_start"),
      Some(ext.SuffixArray.dupSpansOracleSql(5))),

    // The scrub census under the suffix-rank witness: every
    // non-canonical occurrence of a duplicated window marks its l
    // covered tokens; per-doc kept/dropped counts (distinct positions)
    ("sa_scrub",
      (s: SparkSession, d: String) =>
        ext.SuffixArray.scrubStats(t(s, d, "documents"), col("doc_id"),
          col("text"), 5).orderBy("doc_id"),
      Some(ext.SuffixArray.scrubStatsOracleSql(5))),

    ("sessionization",
      (s: SparkSession, d: String) =>
        Sessions.sessionStats(t(s, d, "events"), "user_id", "ts", "value",
          1800, Seq("event_id")).orderBy("user_id", "session_num"),
      Some(Sessions.sessionStatsOracleSql(1800))),

    // Markov transition matrix over within-session event bigrams —
    // "what do users do after X"; probabilities as exact ppm, the
    // |types|^2-bounded journey model
    ("event_transitions",
      (s: SparkSession, d: String) =>
        Sessions.transitionCounts(t(s, d, "events"), 1800)
          .orderBy("prev_type", "next_type"),
      Some(Sessions.transitionCountsOracleSql(1800))),

    // Rolling per-(type, day) volume anomaly: trailing-7-observation
    // z-test in cleared-denominator exact integer form (no sqrt, no
    // float variance) — decimal(38,0)/HUGEINT folds on both engines
    ("zscore_outliers",
      (s: SparkSession, d: String) =>
        Sessions.zscoreOutliers(t(s, d, "events"), col("event_type"),
          col("ts")).orderBy("event_type", "day"),
      Some(Sessions.zscoreOutliersOracleSql())),

    // EWMA trend of the daily volume: dyadic alpha=1/2 weights folded
    // entirely in scaled-integer space (num/den ppm) — the smoothed
    // line next to zscore_outliers' spike flags, bit-identical engines
    ("ewma_volume",
      (s: SparkSession, d: String) =>
        Sessions.ewmaVolume(t(s, d, "events"), col("event_type"),
          col("ts")).orderBy("event_type", "day"),
      Some(Sessions.ewmaVolumeOracleSql())),

    // Robust median/MAD outlier flags: heavy-tail-safe twin of the
    // z-test, folded in doubled/quadrupled integer space (med2/mad4)
    ("mad_outliers",
      (s: SparkSession, d: String) =>
        Sessions.madOutliers(t(s, d, "events"), col("event_type"),
          col("ts")).orderBy("event_type", "day"),
      Some(Sessions.madOutliersOracleSql())),

    // Composition: the conversion-lag distribution per click
    // weekday — attribution lags through the exact quarter-scaled
    // box-plot profiler (attributed clicks only)
    ("conversion_lag_stats",
      (s: SparkSession, d: String) => {
        val attributed = Sessions.attributionAsof(t(s, d, "events"),
            "click", "purchase", 3600L)
          .filter(col("lag_s").isNotNull)
          .withColumn("dow",
            ((dayofweek(to_date(col("ts"))) + 5) % 7 + 1).cast("long"))
        ext.Profiler.boxplotStats(attributed, col("dow"), col("lag_s"))
          .orderBy("grp")
      },
      Some {
        // single-source both halves: the as-of CTE from Sessions, the
        // box-plot shell from Profiler (FROM accepts a subquery)
        val asof = Sessions.attributionAsofOracleSql("click", "purchase",
            3600L).replaceAll("ORDER BY user_id, event_id", "")
        ext.Profiler.boxplotStatsOracleSql(
          s"($asof) a WHERE lag_s IS NOT NULL",
          "CAST(isodow(CAST(ts AS DATE)) AS BIGINT)", "lag_s")
      }),

    // Forward as-of with tolerance (pandas merge_asof
    // direction='forward'): click -> first purchase within 1h, via
    // running-count positioning + seq equi-join — never a theta join
    ("attribution_asof",
      (s: SparkSession, d: String) =>
        Sessions.attributionAsof(t(s, d, "events"), "click", "purchase",
          3600L).orderBy("user_id", "event_id"),
      Some(Sessions.attributionAsofOracleSql("click", "purchase", 3600L))),

    // One-pass column profiler (deequ-shaped): null/exact-distinct/row
    // counts for every lineitem column via stack -> two keyed aggs —
    // never the #cols-fold Expand shuffle of multi-count(distinct)
    ("profile_stats",
      (s: SparkSession, d: String) =>
        ext.Profiler.profileStats(t(s, d, "lineitem"), ProfileCols)
          .orderBy("col_name"),
      Some(ext.Profiler.profileStatsOracleSql("lineitem", ProfileCols))),

    // Zone-map skip audit: simulated file min/max envelopes under
    // time-append vs z-order layout for one 2-D box predicate — the
    // measured case for OPTIMIZE ZORDER, two-phase rank, no sort task
    ("layout_skipping",
      (s: SparkSession, d: String) =>
        ext.Layout.layoutSkipping(t(s, d, "orders"), 512,
          100L, 199L, "1996-01-01", "1999-12-31").orderBy("layout"),
      Some(ext.Layout.layoutSkippingOracleSql(512,
        100L, 199L, "1996-01-01", "1999-12-31"))),

    // PCA pre-pass, step 1: upper-triangle covariance cells — the one
    // n-row stage, join-free map-local expansion + partial agg
    ("embedding_covariance",
      (s: SparkSession, d: String) =>
        ext.Pca.covariance(t(s, d, "embeddings"), col("vec_id"),
          col("embedding"), dim = 64).orderBy("i", "j"),
      Some(ext.Pca.covarianceOracleSql(dim = 64))),

    // PCA day-2: the arriving batch (vec_id >= 400) merges its
    // moments into the settled base table -- covariance without a
    // base rescan; the oracle IS the whole-corpus covariance
    ("embedding_covariance_incremental",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        ext.Pca.covarianceIncremental(
          ext.Pin.pin(ext.Pca.moments(emb.filter(col("vec_id") < 400),
            col("vec_id"), col("embedding"), dim = 64)),
          emb.filter(col("vec_id") >= 400),
          col("vec_id"), col("embedding"), dim = 64)
          .orderBy("i", "j")
      },
      Some(ext.Pca.covarianceOracleSql(dim = 64))),

    // Per-label covariance in the same single pass: the per-domain
    // spectral drift audit (grouped sufficient statistics)
    ("embedding_covariance_by_label",
      (s: SparkSession, d: String) =>
        ext.Pca.covarianceByLabel(t(s, d, "embeddings"), dim = 64)
          .orderBy("label", "i", "j"),
      Some(ext.Pca.covarianceByLabelOracleSql(dim = 64))),

    // PCA step 2: top principal direction by 8 fixed-point power
    // iterations over the 64x64 cell relation (cost independent of n)
    ("pca_power",
      (s: SparkSession, d: String) =>
        ext.Pca.powerIteration(
          ext.Pca.covariance(t(s, d, "embeddings"), col("vec_id"),
            col("embedding"), dim = 64), dim = 64, iters = 8)
          .orderBy("i"),
      Some(ext.Pca.powerOracleSql(dim = 64, iters = 8))),

    // PCA step 3: variance-concentration audit — Rayleigh quotient vs
    // trace, the decorrelate-before-indexing decision number
    ("pca_explained",
      (s: SparkSession, d: String) => {
        val cov = ext.Pca.covariance(t(s, d, "embeddings"),
          col("vec_id"), col("embedding"), dim = 64)
        ext.Pca.explained(cov,
          ext.Pca.powerIteration(cov, dim = 64, iters = 8))
      },
      Some(ext.Pca.explainedOracleSql(dim = 64, iters = 8))),

    // PCA step 4: per-vector coordinate along the top component — one
    // broadcast eigenvector, codegen dot, no shuffle on the corpus
    ("pca_project",
      (s: SparkSession, d: String) => {
        val cov = ext.Pca.covariance(t(s, d, "embeddings"),
          col("vec_id"), col("embedding"), dim = 64)
        ext.Pca.project(t(s, d, "embeddings"), col("vec_id"),
          col("embedding"),
          ext.Pca.powerIteration(cov, dim = 64, iters = 8))
          .orderBy("vec_id")
      },
      Some(ext.Pca.projectOracleSql(dim = 64, iters = 8))),

    // PCA step 5: SECOND component by orthogonal iteration (same
    // kernel, one exact Gram-Schmidt step per round)
    ("pca_power2",
      (s: SparkSession, d: String) =>
        ext.Pca.powerIteration2(
          ext.Pca.covariance(t(s, d, "embeddings"), col("vec_id"),
            col("embedding"), dim = 64), dim = 64, iters = 8)
          .orderBy("i"),
      Some(ext.Pca.power2OracleSql(dim = 64, iters = 8))),

    // PCA step 6: two-component spectrum audit — is the table
    // effectively low-rank (cumulative top-2 explained fraction)
    ("pca_explained2",
      (s: SparkSession, d: String) => {
        val cov = ext.Pca.covariance(t(s, d, "embeddings"),
          col("vec_id"), col("embedding"), dim = 64)
        ext.Pca.explainedTop2(cov,
          ext.Pca.powerIteration(cov, dim = 64, iters = 8),
          ext.Pca.powerIteration2(cov, dim = 64, iters = 8))
      },
      Some(ext.Pca.explained2OracleSql(dim = 64, iters = 8))),

    // PCA step 7: 2-D PCA coordinates — two broadcast eigenvectors,
    // two codegen dots, still a pure map over the corpus
    ("pca_project2",
      (s: SparkSession, d: String) => {
        val cov = ext.Pca.covariance(t(s, d, "embeddings"),
          col("vec_id"), col("embedding"), dim = 64)
        ext.Pca.project2(t(s, d, "embeddings"), col("vec_id"),
          col("embedding"),
          ext.Pca.powerIteration(cov, dim = 64, iters = 8),
          ext.Pca.powerIteration2(cov, dim = 64, iters = 8))
          .orderBy("vec_id")
      },
      Some(ext.Pca.project2OracleSql(dim = 64, iters = 8))),

    // Bimodality audit: histogram of PC1 coordinates (floor-division
    // buckets) -- a secret mixture shows two humps pre-clustering
    ("pca_score_hist",
      (s: SparkSession, d: String) => {
        val cov = ext.Pca.covariance(t(s, d, "embeddings"),
          col("vec_id"), col("embedding"), dim = 64)
        ext.Pca.projectHist(t(s, d, "embeddings"), col("vec_id"),
          col("embedding"),
          ext.Pca.powerIteration(cov, dim = 64, iters = 8),
          binWidthFp = 500000L)
          .orderBy("bucket")
      },
      Some(ext.Pca.projectHistOracleSql(dim = 64, iters = 8,
        binWidthFp = 500000L))),

    // The single-pass enriched table: PC1/PC2 coordinates + outlier
    // score per vector in ONE projection off the shared moments
    ("embedding_enrich",
      (s: SparkSession, d: String) =>
        ext.Pca.enrich(t(s, d, "embeddings"), col("vec_id"),
          col("embedding"), dim = 64, iters = 8).orderBy("vec_id"),
      Some(ext.Pca.enrichOracleSql(dim = 64, iters = 8))),

    // Per-label enriched table: each vector's coordinates along ITS
    // label's top-2 principal directions + within-label Mahalanobis
    // -- the domain-stratified completion of embedding_enrich
    ("embedding_enrich_by_label",
      (s: SparkSession, d: String) =>
        ext.Pca.enrichByLabel(t(s, d, "embeddings"), col("label"),
          col("vec_id"), col("embedding"), dim = 64, iters = 8)
          .orderBy("label", "vec_id"),
      Some(ext.Pca.enrichByLabelOracleSql(dim = 64, iters = 8))),

    // Diagonal-Mahalanobis outlier scan: top-20 vectors farthest from
    // the corpus distribution -- one zip-fold projection, no pairs
    ("embedding_outliers",
      (s: SparkSession, d: String) =>
        ext.Pca.outliers(t(s, d, "embeddings"), col("vec_id"),
          col("embedding"), dim = 64, k = 20).orderBy("rank"),
      Some(ext.Pca.outliersOracleSql(dim = 64, k = 20))),

    // Per-label Mahalanobis outliers: each row scored against ITS
    // label's mean/variance (grouped moments, same one corpus pass)
    // -- the mixture-corpus fix for the global form's domain bias
    ("embedding_outliers_by_label",
      (s: SparkSession, d: String) =>
        ext.Pca.outliersByLabel(t(s, d, "embeddings"), col("label"),
          col("vec_id"), col("embedding"), dim = 64, k = 10)
          .orderBy("label", "rank"),
      Some(ext.Pca.outliersByLabelOracleSql(dim = 64, k = 10))),

    // Inter-label centroid separation: cos^2 ppm + sign per label
    // pair, float-free -- are the classes globally separable at all
    ("label_separation",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.labelSeparation(t(s, d, "embeddings"),
          dim = 64).orderBy("label_a", "label_b"),
      Some(ext.RetrievalEval.labelSeparationOracleSql(dim = 64))),

    // Similarity-density pre-flight: 20-bin cosine histogram over
    // hash-adjacent sampled pairs (keyed window, no self-join)
    ("cos_histogram",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.cosHistogram(t(s, d, "embeddings"),
          sampleMod = 2).orderBy("bucket"),
      Some(ext.RetrievalEval.cosHistogramOracleSql(dim = 64,
        sampleMod = 2))),

    // Embedding-quality eval: label-relevance MRR of exact cosine
    // retrieval (first same-label hit per bounded query set)
    ("retrieval_mrr",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.labelMrr(t(s, d, "embeddings"), qMax = 50L)
          .orderBy("query_id"),
      Some(ext.RetrievalEval.labelMrrOracleSql(dim = 64, qMax = 50L))),

    // Hard-negative mining: per query, the top-5 highest-cosine
    // WRONG-label candidates -- the contrastive-training set
    // constructor (global_rank says how near the decision boundary
    // each negative sits)
    ("hard_negatives",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.hardNegatives(t(s, d, "embeddings"),
          qMax = 50L, k = 5),
      Some(ext.RetrievalEval.hardNegativesOracleSql(dim = 64,
        qMax = 50L, k = 5))),

    // Batch-hard triplet stats: hardest positive + hardest negative
    // per anchor and the margin flags a triplet-loss curriculum
    // reads (margin = 0.05)
    ("triplet_mining",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.tripletMining(t(s, d, "embeddings"),
          qMax = 50L, marginMilli = 50),
      Some(ext.RetrievalEval.tripletMiningOracleSql(dim = 64,
        qMax = 50L, marginMilli = 50))),

    // Mining THROUGH the persisted PQ index -- the scale path: the
    // candidate pool is the ANN shortlist, never a scored corpus
    // scan (missed far negatives are the easy ones, by contract)
    ("hard_negatives_pq",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val pqDir = indexScratch(d, "pq_v1_c16_m8_k16_d64", "embeddings")
        if (!Similarity.ivfPqIndexExists(s, pqDir))
          publishIndexAtomic(s, pqDir)(tmp =>
            Similarity.ivfPqWriteIndex(emb,
              Similarity.pqSampleCodebooks(emb, 8, 16, 8), 16, 8, 64, tmp))
        ext.RetrievalEval.hardNegativesPq(s, pqDir, emb, qMax = 50L,
          k = 5, depth = 20, nProbe = 4, m = 8, dim = 64, rerank = 20)
      },
      Some(ext.RetrievalEval.hardNegativesPqOracleSql(dim = 64,
        qMax = 50L, k = 5, depth = 20, nCentroids = 16, nProbe = 4,
        m = 8, ksub = 16, rerank = 20))),

    // The mining path's own recall audit: of the brute top-k hard
    // negatives, how many the PQ-screened path recovers per query
    ("hard_negatives_pq_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val pqDir = indexScratch(d, "pq_v1_c16_m8_k16_d64", "embeddings")
        if (!Similarity.ivfPqIndexExists(s, pqDir))
          publishIndexAtomic(s, pqDir)(tmp =>
            Similarity.ivfPqWriteIndex(emb,
              Similarity.pqSampleCodebooks(emb, 8, 16, 8), 16, 8, 64, tmp))
        ext.RetrievalEval.hardNegativesPqRecall(s, pqDir, emb,
          qMax = 50L, k = 5, depth = 20, nProbe = 4, m = 8, dim = 64,
          rerank = 20)
      },
      Some(ext.RetrievalEval.hardNegativesPqRecallOracleSql(dim = 64,
        qMax = 50L, k = 5, depth = 20, nCentroids = 16, nProbe = 4,
        m = 8, ksub = 16, rerank = 20))),

    // Trainer-ready triplet manifest: anchor + hardest positive +
    // ordered semi-hard negatives (comma-joined ids) -- the
    // corpus_pack role for contrastive training
    ("triplet_manifest",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.tripletManifest(t(s, d, "embeddings"),
          qMax = 50L, marginMilli = 200, maxNegs = 5),
      Some(ext.RetrievalEval.tripletManifestOracleSql(dim = 64,
        qMax = 50L, marginMilli = 200, maxNegs = 5))),

    // The mining dashboard number: anchors still violating the
    // margin (still carrying training signal), count + ppm
    ("triplet_mining_summary",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.tripletMiningSummary(t(s, d, "embeddings"),
          qMax = 50L, marginMilli = 50),
      Some(ext.RetrievalEval.tripletMiningSummaryOracleSql(dim = 64,
        qMax = 50L, marginMilli = 50))),

    // Recall@k: of each query-label's relatives, how many the exact
    // ranking puts in the top 10 -- integer ppm, uncapped denominator
    ("retrieval_recall_at_k",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.labelRecallAtK(t(s, d, "embeddings"),
          qMax = 50L, k = 10).orderBy("query_id"),
      Some(ext.RetrievalEval.labelRecallAtKOracleSql(dim = 64,
        qMax = 50L, k = 10))),

    // nDCG@10 with binary label relevance: discount weights are
    // driver-computed 1e6 literals shared by BOTH engines, so the
    // logarithm never runs in either engine
    ("retrieval_ndcg",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.labelNdcgAtK(t(s, d, "embeddings"),
          qMax = 50L, k = 10).orderBy("query_id"),
      Some(ext.RetrievalEval.labelNdcgAtKOracleSql(dim = 64,
        qMax = 50L, k = 10))),

    // Average precision @10 per query: truncating-DIV precision at
    // each relevant hit, averaged over the achievable hit count
    ("retrieval_ap",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.labelApAtK(t(s, d, "embeddings"),
          qMax = 50L, k = 10).orderBy("query_id"),
      Some(ext.RetrievalEval.labelApAtKOracleSql(dim = 64,
        qMax = 50L, k = 10))),

    // Corpus-level macro roll-up of the @k family: ONE row with
    // macro recall/nDCG/AP ppm -- the dashboard number per embedding
    // refresh, computed in a single ranked-top-k pass
    ("retrieval_summary",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.labelEvalSummary(t(s, d, "embeddings"),
          qMax = 50L, k = 10),
      Some(ext.RetrievalEval.labelEvalSummaryOracleSql(dim = 64,
        qMax = 50L, k = 10))),

    // The macro eval stratified by label: which DOMAIN the embedding
    // fails on -- per query-label census + macro recall/nDCG/AP ppm,
    // same single ranked-top-k pass with one extra grouping key
    ("retrieval_by_label",
      (s: SparkSession, d: String) =>
        ext.RetrievalEval.labelEvalByLabel(t(s, d, "embeddings"),
          qMax = 50L, k = 10).orderBy("label"),
      Some(ext.RetrievalEval.labelEvalByLabelOracleSql(dim = 64,
        qMax = 50L, k = 10))),

    // Per-dimension embedding moments: dead-dim / runaway-dim audit,
    // exact integers after 1e4 quantization, |dims| output rows
    ("embedding_dim_stats",
      (s: SparkSession, d: String) =>
        ext.Similarity.dimStats(t(s, d, "embeddings"), col("embedding")),
      Some(ext.Similarity.dimStatsOracleSql)),

    // Grid-sketch quantiles: mergeable G-cell histogram -> percentile
    // upper bounds with error <= one cell width; fixed state, one pass
    ("grid_quantiles",
      (s: SparkSession, d: String) =>
        ext.Profiler.gridQuantiles(t(s, d, "lineitem"),
          (col("l_extendedprice").cast("decimal(14,2)") * 100)
            .cast("long"),
          grid = 1024, Seq(250000L, 500000L, 750000L, 900000L, 990000L)),
      Some(ext.Profiler.gridQuantilesOracleSql(grid = 1024,
        Seq(250000L, 500000L, 750000L, 900000L, 990000L)))),

    // Interval union: merge overlapping per-user activity spans ->
    // engaged-time coverage (the sum naive durations overcount)
    ("interval_union",
      (s: SparkSession, d: String) =>
        ext.Sessions.intervalUnion(t(s, d, "events"), padSeconds = 300L),
      Some(ext.Sessions.intervalUnionOracleSql(padSeconds = 300L))),

    // Winsorized moments: rank-fenced [p05, p95] clip, then exact
    // integer aggregation — robust mean without dropping rows
    ("winsorized_stats",
      (s: SparkSession, d: String) =>
        ext.Profiler.winsorizedStats(t(s, d, "lineitem"),
          (col("l_extendedprice").cast("decimal(14,2)") * 100)
            .cast("long"),
          Seq(col("l_orderkey"), col("l_linenumber"))),
      Some(ext.Profiler.winsorizedStatsOracleSql())),

    // Forward fill over the dense calendar: per-nation daily revenue
    // where gap days carry the last observed value — the as-of view
    // calendar_fill's zero-fill cannot express
    ("forward_fill",
      (s: SparkSession, d: String) => {
        val oc = t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        ext.Profiler.forwardFill(oc, col("c_nationkey"),
          col("o_orderdate"), col("o_totalprice"))
      },
      Some(ext.Profiler.forwardFillOracleSql)),

    // Distinctive vocabulary per source: in-source vs corpus token
    // rate lift (decimal-folded ppm), min-support floor, top-5
    ("source_terms",
      (s: SparkSession, d: String) =>
        ext.Corpus.sourceTerms(t(s, d, "documents"), col("source"),
          col("text"), k = 5, minTf = 5L),
      Some(ext.Corpus.sourceTermsOracleSql(k = 5, minTf = 5L))),

    // Small-group suppression: rollup groups under the disclosure
    // floor merge into one '(suppressed)' residual — totals conserved
    ("suppressed_rollup",
      (s: SparkSession, d: String) =>
        ext.Privacy.suppressedRollup(t(s, d, "customer"),
          Seq(col("c_nationkey"), col("c_mktsegment")),
          col("c_acctbal"), 10L),
      Some(ext.Privacy.suppressedRollupOracleSql("customer",
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", 10L))),

    // Half-sample metric stability: B deterministic hash replicates
    // of the mean — the bootstrap-CI read without rand(); one pass
    ("resample_stability",
      (s: SparkSession, d: String) =>
        ext.Profiler.resampleStability(t(s, d, "orders"),
          col("o_orderkey"), col("o_totalprice")),
      Some(ext.Profiler.resampleStabilityOracleSql())),

    // A/A-shaped experiment audit: hash arms over orders, order-value
    // conversion, z-squared x100 vs the chi-square 95% bar; sqrt-free
    ("ab_test_audit",
      (s: SparkSession, d: String) =>
        ext.Profiler.abTestAudit(t(s, d, "orders"), col("o_orderkey"),
          col("o_totalprice"), thresholdCents = 20000000L),
      Some(ext.Profiler.abTestAuditOracleSql(
        thresholdCents = 20000000L))),

    // 2-D epsilon self-join: same customer, close amount AND close
    // date -> duplicate-payment candidates; 3x3 grid-cell replication
    // makes it an equi-join, exact band filter keeps it lossless
    ("dup_payment_audit",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders").select(col("o_custkey"),
          col("o_orderkey"),
          (col("o_totalprice").cast("decimal(14,2)") * 100)
            .cast("long").as("cents"),
          datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
            .cast("long").as("days"))
        ext.FuzzyJoin.band2dPairs(o, col("o_custkey"), col("o_orderkey"),
          col("cents"), col("days"), dx = 50000L, dy = 60L)
      },
      Some(ext.FuzzyJoin.dupPaymentOracleSql(50000L, 60L))),

    // Supplier-concentration HHI histogram: single-source risk bands
    // over the whole catalog, decimal-folded squares, <=10 rows out
    ("hhi_concentration",
      (s: SparkSession, d: String) =>
        ext.Profiler.hhiBands(t(s, d, "lineitem")),
      Some(ext.Profiler.hhiBandsOracleSql)),

    // Dead-stock audit per brand: parts with no shipment since the
    // cutoff — anti-join against the recent-part set, brand rollup
    ("dead_stock",
      (s: SparkSession, d: String) => {
        val recent = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-06-01").cast("date"))
          .select(col("l_partkey").as("p_partkey")).distinct()
        t(s, d, "part").join(recent, Seq("p_partkey"), "left_anti")
          .groupBy(col("p_brand").as("brand"))
          .agg(count(lit(1)).cast("long").as("n_dead"),
            (sum(col("p_retailprice").cast("decimal(14,2)")) * 100)
              .cast("long").as("dead_value_cents"))
          .orderBy("brand")
      },
      Some("""WITH recent AS (
        |  SELECT DISTINCT l_partkey FROM lineitem
        |  WHERE l_shipdate >= DATE '2001-06-01')
        |SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_dead,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(14,2))) * 100
        |    AS BIGINT) AS dead_value_cents
        |FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM recent)
        |GROUP BY 1 ORDER BY brand""".stripMargin)),

    // Heaps'-law vocabulary growth: cumulative types vs tokens along
    // the doc order — first-seen buckets, no per-prefix distincts
    ("vocab_growth",
      (s: SparkSession, d: String) =>
        ext.Corpus.vocabGrowth(t(s, d, "documents"), col("doc_id"),
          col("text"), bucketDocs = 100L),
      Some(ext.Corpus.vocabGrowthOracleSql(bucketDocs = 100L))),

    // Rank movers: biggest revenue-RANK shifts between two years —
    // two two-phase ranks + part-keyed join + k-bounded TakeOrdered
    ("rank_movers",
      (s: SparkSession, d: String) =>
        ext.Profiler.rankMovers(t(s, d, "lineitem"), 1996, 1997, 15),
      Some(ext.Profiler.rankMoversOracleSql(1996, 1997, 15))),

    // Three-step behavioral paths: two leads on the per-user stream,
    // one hash agg, k-bounded top paths
    ("event_trigrams",
      (s: SparkSession, d: String) =>
        ext.Sessions.eventTrigrams(t(s, d, "events"), k = 20),
      Some(ext.Sessions.eventTrigramsOracleSql(k = 20))),

    // Watermark-sizing disorder histogram: per-user arrival-order
    // lateness bucketed into <=6 rows — reads off the X for
    // withWatermark("ts", X)
    ("late_data_audit",
      (s: SparkSession, d: String) =>
        ext.Profiler.lateDataAudit(t(s, d, "events")),
      Some(ext.Profiler.lateDataAuditOracleSql)),

    // Append-algebra checksum: fingerprint(base) + fingerprint(delta)
    // combined mod M equals fingerprint(whole), proven in-query —
    // daily reconciliation re-hashes the day, not the decade
    ("checksum_incremental",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
        val cols = (df: DataFrame) => Seq(df("l_orderkey"),
          df("l_linenumber"), df("l_returnflag"), df("l_shipdate"))
        ext.Profiler.checksumIncremental(
          li.filter(col("l_orderkey") < 30000L),
          li.filter(col("l_orderkey") >= 30000L), li, cols)
      },
      Some(ext.Profiler.checksumIncrementalOracleSql(30000L,
        Seq("CAST(l_orderkey AS VARCHAR)", "CAST(l_linenumber AS VARCHAR)",
          "l_returnflag", "CAST(l_shipdate AS VARCHAR)")))),

    // Benford first-digit forensic screen: digit from the decimal
    // STRING (engine-stable), ppm shares vs compile-time Benford
    // literals — 9 output rows at any scale
    ("benford_audit",
      (s: SparkSession, d: String) =>
        ext.Profiler.benfordAudit(t(s, d, "orders"), col("o_totalprice")),
      Some(ext.Profiler.benfordOracleSql)),

    // Order-independent table fingerprint: sum of row polyhashes mod
    // 2^61-1 — one map-side-combining pass, 16 bytes shipped per side
    ("table_checksum",
      (s: SparkSession, d: String) =>
        ext.Profiler.tableChecksum(t(s, d, "lineitem"),
          Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_shipdate"))),
      Some(ext.Profiler.tableChecksumOracleSql("lineitem",
        Seq("CAST(l_orderkey AS VARCHAR)", "CAST(l_linenumber AS VARCHAR)",
          "l_returnflag", "CAST(l_shipdate AS VARCHAR)")))),

    // Partition sizing as a query: rows/bytes -> ceil-division
    // partition counts at the 128 MiB target; rows_per_partition is
    // the flat-at-any-scale invariant
    ("partition_planner",
      (s: SparkSession, d: String) =>
        ext.Layout.partitionPlanner(t(s, d, "lineitem"),
          t(s, d, "documents")),
      Some(ext.Layout.partitionPlannerOracleSql())),

    // Returned-revenue share per month: flag-share trend in exact
    // ppm over cent-exact folds — the quality-of-sales counterpart
    // to the volume trends
    ("return_rate_trend",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .select((year(col("l_shipdate")) * 12 +
              month(col("l_shipdate")) - 1).cast("long").as("month_idx"),
            (col("l_extendedprice").cast("decimal(14,2)") * 100)
              .cast("long").as("cents"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L)
              .as("ret"))
          .groupBy("month_idx")
          .agg(count(lit(1)).cast("long").as("n_lines"),
            sum(when(col("ret") === 1L, col("cents")).otherwise(0L))
              .cast("long").as("returned_cents"),
            sum(col("cents")).cast("long").as("total_cents"))
          .withColumn("return_ppm",
            // decimal fold: monthly cents x 1e6 passes Long at the
            // 100 TB posture (the basketLift overflow lesson)
            expr("cast(case when total_cents > 0 then " +
              "cast(returned_cents as decimal(38,0)) * 1000000 " +
              "div total_cents else 0 end as long)"))
          .orderBy("month_idx"),
      Some("""WITH m AS (
        |  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
        |      AS BIGINT) AS month_idx,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN
        |      CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS returned_cents,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT month_idx, n_lines, returned_cents, total_cents,
        |  CAST(CASE WHEN total_cents > 0 THEN
        |    CAST(returned_cents AS HUGEINT) * 1000000 // total_cents
        |    ELSE 0 END AS BIGINT) AS return_ppm
        |FROM m ORDER BY month_idx""".stripMargin)),

    // STL-lite seasonal/trend split on the dense weekly spine:
    // 13-week centered trend, per-week-of-year seasonal index
    ("seasonal_split",
      (s: SparkSession, d: String) =>
        ext.Profiler.seasonalSplit(t(s, d, "orders"), col("o_orderdate"),
          col("o_totalprice")),
      Some(ext.Profiler.seasonalSplitOracleSql)),

    // Order-to-ship latency trend: per order month, line count and
    // avg/max ship lag — the fulfillment SLA read
    ("order_ship_lag",
      (s: SparkSession, d: String) => {
        val j = t(s, d, "orders").join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        j.select((year(col("o_orderdate")) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("month_idx"),
            datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
              .as("lag_days"))
          .groupBy("month_idx")
          .agg(count(lit(1)).cast("long").as("n_lines"),
            expr("cast((sum(lag_days) * 100) div count(1) as bigint)")
              .as("avg_lag_days_x100"),
            max(col("lag_days")).cast("long").as("max_lag_days"))
          .orderBy("month_idx")
      },
      Some("""SELECT
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
        |    AS month_idx,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(date_diff('day', o_orderdate, l_shipdate)) * 100
        |    // count(*) AS BIGINT) AS avg_lag_days_x100,
        |  CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
        |    AS max_lag_days
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY month_idx""".stripMargin)),

    // Theil-Sen robust trend: median pairwise slope over the weekly
    // spine — |weeks|^2 pairs, CONSTANT in corpus size; exact ppm
    ("theil_sen_trend",
      (s: SparkSession, d: String) =>
        ext.Profiler.theilSenTrend(t(s, d, "orders"), col("o_orderdate"),
          col("o_totalprice"), bucketDays = 7),
      Some(ext.Profiler.theilSenOracleSql)),

    // CUSUM sequential drift alarm (Page 1954): reset-at-zero
    // recursion expressed as prefix-sum − running-min (two windows
    // over the |days|-bounded daily rollup), exact integer cents
    ("cusum_drift",
      (s: SparkSession, d: String) =>
        ext.Profiler.cusumDrift(t(s, d, "orders"), col("o_orderdate"),
          col("o_totalprice")),
      Some(ext.Profiler.cusumDriftOracleSql)),

    // PSI-shaped distribution drift: rank-fenced deciles of the
    // pre-pivot price distribution applied to the post-pivot rows,
    // integer ppm shares — no interpolated-quantile floats anywhere
    ("drift_check",
      (s: SparkSession, d: String) =>
        ext.Profiler.driftCheck(t(s, d, "lineitem"), "1998-06-01")
          .orderBy("bin"),
      Some(ext.Profiler.driftCheckOracleSql("1998-06-01"))),

    // Dense calendar spine with zero-filled gap days — honest
    // adjacency for any lag/EWMA consumer; |days|-bounded
    ("calendar_fill",
      (s: SparkSession, d: String) =>
        ext.Profiler.calendarFill(t(s, d, "orders"), col("o_orderdate"),
          col("o_totalprice")).orderBy("date_value"),
      Some(ext.Profiler.calendarFillOracleSql)),

    // Monthly order-value trend: exact floor-cents average next to
    // the x2-exact median — the mix-shift detector pair
    ("aov_trend",
      (s: SparkSession, d: String) =>
        ext.Profiler.aovTrend(t(s, d, "orders"), col("o_orderdate"),
          col("o_totalprice")).orderBy("year", "month"),
      Some(ext.Profiler.aovTrendOracleSql)),

    // Monthly revenue MoM/YoY growth in exact ppm — gap months yield
    // NULL, positive-shifted floor division (trunc==floor)
    ("growth_rates",
      (s: SparkSession, d: String) =>
        ext.Profiler.growthRates(t(s, d, "orders"), col("o_orderdate"),
          col("o_totalprice")).orderBy("year", "month"),
      Some(ext.Profiler.growthRatesOracleSql)),

    // RFM customer segmentation: rank-quintile scores per dimension
    // via the two-phase rank, composite segment code — all integer
    ("rfm_segments",
      (s: SparkSession, d: String) =>
        ext.Profiler.rfmSegments(t(s, d, "orders"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice")).orderBy("cust_id"),
      Some(ext.Profiler.rfmSegmentsOracleSql)),

    // Single-source supply risk: supplier-count histogram per part
    // with line-volume exposure and an at-risk flag
    ("supply_risk",
      (s: SparkSession, d: String) =>
        ext.Profiler.supplyRisk(t(s, d, "lineitem"))
          .orderBy("n_suppliers"),
      Some(ext.Profiler.supplyRiskOracleSql())),

    // Exact (ISO dow x hour) activity grid with ppm shares — 7x24
    // bounded, the ops-dashboard opener
    ("activity_heatmap",
      (s: SparkSession, d: String) =>
        ext.Profiler.activityHeatmap(t(s, d, "events"), col("ts"))
          .orderBy("dow", "hour"),
      Some(ext.Profiler.activityHeatmapOracleSql)),

    // Sampling honesty audit: deterministic 1-in-64 hash sample,
    // scaled estimates vs exact truth, signed error in ppm
    ("sample_estimate",
      (s: SparkSession, d: String) =>
        ext.Profiler.sampleEstimate(t(s, d, "lineitem"), 64),
      Some(ext.Profiler.sampleEstimateOracleSql(64))),

    // Inter-purchase gap distribution by order-count band, through
    // the shared exact box-plot shell — the churn-model lifecycle read
    ("purchase_intervals",
      (s: SparkSession, d: String) =>
        ext.Profiler.purchaseIntervals(t(s, d, "orders"),
          col("o_custkey"), col("o_orderdate")).orderBy("grp"),
      Some(ext.Profiler.purchaseIntervalsOracleSql)),

    // ANALYZE-style equi-depth histogram: 20 near-equal-count value
    // buckets of price cents, integer bounds from the two-phase rank
    ("equi_depth_hist",
      (s: SparkSession, d: String) =>
        ext.Profiler.equiDepthHist(
          t(s, d, "lineitem").withColumn("__cents",
            (col("l_extendedprice").cast("decimal(14,2)") * 100)
              .cast("long")),
          col("__cents"), Seq(col("l_orderkey"), col("l_linenumber")), 20)
          .orderBy("bin"),
      Some(ext.Profiler.equiDepthHistOracleSql(20))),

    // Exact Spearman rank correlation (deterministic tie-broken
    // ranks, canonical pairing of fully-identical rows, the no-ties
    // identity as an exact rational ppm) — quantity vs price
    ("spearman_corr",
      (s: SparkSession, d: String) =>
        ext.Profiler.spearmanCorr(t(s, d, "lineitem"),
          col("l_quantity"),
          (col("l_extendedprice").cast("decimal(14,2)") * 100)
            .cast("long"),
          Seq(col("l_orderkey"), col("l_linenumber"))),
      Some(ext.Profiler.spearmanOracleSql)),

    // Per-segment box-plot profile: exact quarter-scaled quartiles,
    // IQR and 1.5-IQR outlier counts, all-integer across engines
    ("boxplot_stats",
      (s: SparkSession, d: String) =>
        ext.Profiler.boxplotStats(t(s, d, "orders"),
          col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long"))
          .orderBy("grp"),
      Some(ext.Profiler.boxplotStatsOracleSql("orders", "o_orderpriority",
        "CAST(o_totalprice AS DECIMAL(14,2)) * 100"))),

    // Gini concentration of revenue across customers: the rank
    // identity in exact integer ppm over the two-phase global rank
    ("gini_revenue",
      (s: SparkSession, d: String) =>
        ext.Profiler.giniConcentration(t(s, d, "orders"),
          col("o_custkey"), col("o_totalprice")),
      Some(ext.Profiler.giniRevenueOracleSql)),

    // ABC/Pareto revenue banding: global cumulative-share over parts
    // ordered by revenue desc — the two-phase range cumsum (never a
    // single-task sort), exact integer ppm banding on cent-exact sums
    ("pareto_abc",
      (s: SparkSession, d: String) =>
        ext.Profiler.paretoAbc(t(s, d, "lineitem"), col("l_partkey"),
          col("l_extendedprice")).orderBy("part_id"),
      Some(ext.Profiler.paretoAbcOracleSql)),

    // Day-of-week seasonality fingerprint per type: weekday share
    // + deviation from flat-week, exact ppm, |types|x7 output
    ("seasonality_profile",
      (s: SparkSession, d: String) =>
        Sessions.seasonalityProfile(t(s, d, "events"), col("event_type"),
          col("ts")).orderBy("event_type", "dow"),
      Some(Sessions.seasonalityProfileOracleSql())),

    // Per-node clustering coefficient over the co-order graph:
    // 2*tri/(deg*(deg-1)) exact ppm — the clique-ness health read
    ("clustering_coeff",
      (s: SparkSession, d: String) =>
        ext.Graph.clusteringCoeff(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey"))).orderBy("node_id"),
      Some(ext.Graph.coOrderClusteringOracleSql)),

    // Degree-oriented distributed triangle counting over the part
    // co-order graph — every wedge built once at its lowest-(deg,id)
    // apex (sqrt(m) out-degree bound); oracle is the plain 3-way join
    ("graph_triangles",
      (s: SparkSession, d: String) =>
        ext.Graph.coOrderTriangles(t(s, d, "lineitem"))
          .orderBy("node_id"),
      Some(ext.Graph.coOrderTrianglesOracleSql)),

    // The graph family's sizing pre-flight (the minhash_bucket_audit
    // / knn_cell_audit discipline applied to CN ranking): exact
    // degree deciles + hub tail + Σdeg² wedge mass + the per-edge
    // cost multiplier E[deg²]/E[deg] in ppm — the §39 cost model as
    // one cheap agg a deployment runs BEFORE paying for link_predict
    ("degree_histogram",
      (s: SparkSession, d: String) =>
        ext.Graph.degreeHistogram(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey"))),
      Some(ext.Graph.degreeHistogramOracleSql)),

    // Missing-link ranking: non-adjacent part pairs sharing >= 2
    // co-order neighbors, top-100 by neighborhood-Jaccard ppm —
    // wedge emission apex-capped, full degrees in the denominator
    ("link_predict",
      (s: SparkSession, d: String) =>
        ext.Graph.linkPredict(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), minCn = 2, k = 100),
      Some(ext.Graph.linkPredictOracleSql(minCn = 2, k = 100))),

    // Degree-weighted missing-link ranking: resource-allocation index
    // Σ 1e6 div deg(z) over common neighbors — selective neighbors
    // outrank hubs, in exact integer micro-units; declared on the
    // 1995 full-year slice (the quarter is pair-free at sf0.01)
    ("link_predict_ra",
      (s: SparkSession, d: String) =>
        ext.Graph.linkPredictRa(ext.Graph.coEdges(
          t(s, d, "lineitem").filter(col("l_shipdate")
            .between("1995-01-01", "1995-12-31")),
          col("l_orderkey"), col("l_partkey")), minCn = 2, k = 100),
      Some(ext.Graph.linkPredictRaOracleSql(
        "l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'",
        minCn = 2, k = 100))),

    // The hub-heavy escape hatch for exact CN ranking: minhash the
    // NEIGHBOR SETS (one agg, linear in edges), band the signatures,
    // estimate Jaccard as matching positions — no Σ deg(apex)²
    // wedge term anywhere; oversize LSH buckets skipped (the coEdges
    // guard applied to bands)
    ("link_predict_approx",
      (s: SparkSession, d: String) =>
        ext.Graph.linkPredictApprox(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), k = 100),
      Some(ext.Graph.linkPredictApproxOracleSql(k = 100))),

    // Build-once / rank-many for the graph family (the
    // ann_pq_persisted economics): the per-node signature index
    // PERSISTED (adjacency + minhash-minima log, atomic fingerprinted
    // scratch) and ranked from disk — first run at a fixture pays the
    // signature agg and writes the index; every later run pays only
    // banding + exact verification. Result = link_predict_approx by
    // construction (min-fold over the log = the full-set signature),
    // so the oracle replays the same chain from the raw tables.
    ("link_predict_approx_persisted",
      (s: SparkSession, d: String) => {
        val dir = indexScratch(d, "linkapprox_v1_h8", "lineitem")
        if (!ext.Graph.linkApproxIndexExists(s, dir))
          publishIndexAtomic(s, dir, ext.Graph.linkApproxIndexExists)(
            tmp => ext.Graph.linkApproxWriteIndex(
              ext.Graph.coEdges(t(s, d, "lineitem"),
                col("l_orderkey"), col("l_partkey")), tmp))
        ext.Graph.linkPredictApproxFromIndex(s, dir, k = 100)
      },
      Some(ext.Graph.linkPredictApproxOracleSql(k = 100))),

    // What the estimator costs: overlap of the approx top-k with the
    // exact ranker's top-k, in exact ppm — the ann_recall pattern
    // applied to link prediction
    ("link_predict_approx_recall",
      (s: SparkSession, d: String) =>
        ext.Graph.linkPredictApproxRecall(
          ext.Graph.coEdges(t(s, d, "lineitem"),
            col("l_orderkey"), col("l_partkey")), minCn = 2, k = 100),
      Some(ext.Graph.linkPredictApproxRecallOracleSql(minCn = 2, k = 100))),

    // TPC-H Q5-shaped five-way star: region/nation broadcast at any
    // scale, customer while it fits (AQE decides), facts meet on
    // their natural key — cent-exact revenue per (region, nation, yr)
    ("mart_region_revenue",
      (s: SparkSession, d: String) =>
        marts.Marts.regionRevenue(t(s, d, "region"), t(s, d, "nation"),
          t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem"))
          .orderBy("r_name", "n_name", "order_year"),
      Some(marts.Marts.regionRevenueOracleSql)),

    // TPC-H Q3-shaped top-k: both filters pushed to their scans,
    // k-bounded TakeOrdered, deterministic (revenue desc, orderkey)
    ("mart_top_orders",
      (s: SparkSession, d: String) =>
        marts.Marts.topOrders(t(s, d, "customer"), t(s, d, "orders"),
          t(s, d, "lineitem"), "BUILDING", "1996-01-01", "1996-12-31", 10)
          .orderBy(col("revenue_cents").desc, col("l_orderkey")),
      Some(marts.Marts.topOrdersOracleSql("BUILDING", "1996-01-01",
        "1996-12-31", 10))),

    ("multimodal_features",
      (s: SparkSession, d: String) =>
        Multimodal.featuresExpr(t(s, d, "documents")).orderBy("doc_id"),
      Some(Multimodal.featuresOracleSql)),

    // Corpus-prep (graft.ext.Corpus): deterministic train/val/test
    // assignment — hash split, not rand(), so it's reproducible and
    // engine-portable
    ("sample_split",
      (s: SparkSession, d: String) =>
        ext.Corpus.sampleSplit(
            t(s, d, "documents").select("doc_id", "lang"), col("doc_id"))
          .orderBy("doc_id"),
      Some {
        val (bucket, split) = ext.Corpus.sampleSplitSql("doc_id")
        s"""SELECT doc_id, lang, $bucket AS bucket, $split AS split
          |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // Corpus vocabulary: explode + hash agg + TakeOrdered top-k
    ("vocab_topk",
      (s: SparkSession, d: String) =>
        ext.Corpus.vocabTopK(t(s, d, "documents"), col("doc_id"),
          col("text"), 100),
      Some(ext.Corpus.vocabTopKOracleSql(100))),

    // Token-budget carve: fill each source with docs in deterministic
    // hash order until the token budget — "x tokens of source A", the
    // mixture-execution twin of mix_sample's rate thinning; greedy
    // fill (last kept doc may overshoot, never undershoots)
    ("token_budget_sample",
      (s: SparkSession, d: String) =>
        ext.Corpus.tokenBudgetSample(t(s, d, "documents"),
          col("doc_id"), col("text"), col("source"), budget = 600L)
          .orderBy("doc_id"),
      Some(ext.Corpus.tokenBudgetSampleOracleSql(budget = 600L))),

    // Count-Min heavy-hitter audit (Cormode-Muthukrishnan): exact
    // top-k counts next to their 4x1024-cell sketch estimates —
    // n_est >= n_exact always; the overshoot is the collision mass
    // this audit sizes the sketch by. The sketch build is one
    // map-side-combining agg into FIXED 4096-cell state (the
    // vocab-agg replacement at 100 TB)
    ("cms_topk_audit",
      (s: SparkSession, d: String) =>
        ext.Corpus.cmsTopkAudit(t(s, d, "documents"), col("text"), 20)
          .orderBy(col("n_exact").desc, col("token")),
      Some(ext.Corpus.cmsTopkAuditOracleSql(20))),

    // Per-doc salient terms: tf-idf-shaped integer scoring (no libm)
    ("tfidf_topk",
      (s: SparkSession, d: String) =>
        ext.Corpus.tfidfTopTerms(t(s, d, "documents"), col("doc_id"),
          col("text"), 3).orderBy("doc_id", "rank"),
      Some(ext.Corpus.tfidfTopTermsOracleSql(3))),

    // Exact per-group length quantiles (R-7 interpolation both engines)
    ("length_quantiles",
      (s: SparkSession, d: String) =>
        ext.Corpus.lengthQuantiles(t(s, d, "documents"), col("lang"),
          length(col("text")).cast("long")).orderBy("grp"),
      Some(ext.Corpus.lengthQuantilesOracleSql("lang", "length(text)"))),

    // Gopher-style repetition signals: duplicate-bigram occupancy
    ("repetition_score",
      (s: SparkSession, d: String) =>
        TextAnalysis.repetitionFeatures(t(s, d, "documents"),
          col("doc_id"), col("text"), 2).orderBy("doc_id"),
      Some(TextAnalysis.repetitionOracleSql(2))),

    // Privacy scrub pass: mask / pseudonymize / generalize (all
    // deterministic column expressions — a projection at 100 TB)
    ("pii_mask",
      (s: SparkSession, d: String) =>
        t(s, d, "customer").select(col("c_custkey").as("nk"),
            ext.Privacy.maskDigits(col("c_name")).as("masked_name"),
            ext.Privacy.pseudonym(col("c_name")).as("name_token"),
            ext.Privacy.bucketize(col("c_acctbal"), 1000).as("acct_bucket"))
          .orderBy("nk"),
      Some(s"""SELECT c_custkey AS nk,
        |  ${ext.Privacy.maskDigitsSql("c_name")} AS masked_name,
        |  ${ext.Privacy.pseudonymSql("c_name")} AS name_token,
        |  ${ext.Privacy.bucketizeSql("c_acctbal", 1000)} AS acct_bucket
        |FROM customer ORDER BY nk""".stripMargin)),

    // Corpus rebalancing: per-language deterministic downsample
    // (dominant language keeps 300‰, the rest keep everything)
    ("stratified_sample",
      (s: SparkSession, d: String) =>
        ext.Corpus.stratifiedSample(
            t(s, d, "documents").select("doc_id", "lang"),
            col("doc_id"), col("lang"), Seq("en" -> 300))
          .orderBy("doc_id"),
      Some {
        val (bucket, rate) = ext.Corpus.stratifiedSampleSql(
          "doc_id", "lang", Seq("en" -> 300))
        s"""SELECT doc_id, lang, $bucket AS bucket1k, $rate AS rate_permille
          |FROM documents WHERE $bucket < $rate
          |ORDER BY doc_id""".stripMargin
      }),

    // Per-group top-k (WindowGroupLimit: the rank filter pushes into
    // the shuffle as a per-partition group limit — no group ever
    // materializes fully, unlike a global sort or a groupBy+collect)
    ("group_topk",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang")
          .orderBy(col("n_chars").desc, col("doc_id"))
        t(s, d, "documents").select("doc_id", "lang", "n_chars")
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .orderBy("lang", "rank")
      },
      Some("""SELECT doc_id, lang, n_chars, rank FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
        |  FROM documents)
        |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin)),

    // Distribution-rank window functions (ntile/percent_rank/cume_dist
    // — ANSI definitions, identical in both engines; outputs double)
    ("rank_funcs",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cum_dist"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // Int8 quantization audit over the embedding table
    ("embedding_quantize",
      (s: SparkSession, d: String) =>
        Similarity.quantizeStats(t(s, d, "embeddings"), col("vec_id"),
          col("embedding")).orderBy("vec_id"),
      Some(Similarity.quantizeStatsOracleSql())),

    // Incremental dedup: the arriving batch (doc_id >= 400) against
    // corpus + batch — settled corpus-internal pairs never re-derived
    ("dedup_incremental",
      (s: SparkSession, d: String) =>
        Dedup.minhashCandidatesIncremental(
          Dedup.minhashSignature(t(s, d, "documents"), col("doc_id"),
            col("text"), 3, 8), 8, 2, 400L).orderBy("d1", "d2"),
      Some(Dedup.minhashIncrementalOracleSql(3, 8, 2, 400L))),

    // Quality-aware dedup keep: among near-dups keep the best-scoring
    // doc, not the smallest id
    ("neardup_best_keep",
      (s: SparkSession, d: String) => {
        // split once behind an alias boundary; the score references
        // the words array four times (see qualityScoreFrom scaladoc)
        val withQ = t(s, d, "documents")
          .select(col("doc_id"), col("text"),
            split(col("text"), " ").as("__w"))
          .select(col("doc_id"), col("text"),
            TextAnalysis.qualityScoreFrom(col("__w")).as("__q"))
        Dedup.nearDupBestKeep(withQ, col("doc_id"), col("text"),
          col("__q"), 3).orderBy("doc_id")
      },
      Some(Dedup.nearDupBestKeepOracleSql(
        TextAnalysis.qualityScoreSql("text"), 3))),

    // Fixed-width length histogram per language (two-key hash agg —
    // bucket id is a projection, so the histogram is one shuffle)
    ("length_histogram",
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .groupBy(col("lang"),
            (floor(col("n_chars") / 100) * 100).cast("long").as("len_bucket"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "len_bucket"),
      Some("""SELECT lang,
        |  CAST(floor(n_chars / 100) * 100 AS BIGINT) AS len_bucket,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang, len_bucket
        |ORDER BY lang, len_bucket""".stripMargin)),

    // Train/test leakage scan: corpus docs sharing >= 10% of their
    // 3-grams with the held-out eval slice (source = 'src19')
    ("contamination_check",
      (s: SparkSession, d: String) =>
        ext.Corpus.contamination(t(s, d, "documents"), col("doc_id"),
            col("text"), col("source") === "src19", 3, 0.1)
          .orderBy("doc_id"),
      Some(ext.Corpus.contaminationOracleSql("source = 'src19'", 3, 0.1))),

    // TextRank keywords: weighted PageRank over the word
    // co-occurrence graph, 3 fixed-point rounds, bounded top-20
    ("textrank_keywords",
      (s: SparkSession, d: String) =>
        TextAnalysis.textrankKeywords(t(s, d, "documents"),
          col("text"), iters = 3, k = 20).orderBy("rank"),
      Some(TextAnalysis.textrankKeywordsOracleSql(iters = 3, k = 20))),

    // Bigram LM fit: integer perplexity proxy under corpus statistics
    ("lm_fit",
      (s: SparkSession, d: String) =>
        TextAnalysis.lmFit(t(s, d, "documents"), col("doc_id"),
          col("text")).orderBy("doc_id"),
      Some(TextAnalysis.lmFitOracleSql)),

    // The WHOLE corpus-prep pipeline as one oracle-checked query:
    // quality gate -> exact dedup -> near-dup best-keep ->
    // contamination gate -> stratified sample -> split assignment
    ("corpus_prepare",
      (s: SparkSession, d: String) =>
        ext.CorpusPipeline.prepare(t(s, d, "documents"),
            col("source") === "src19", rates = Seq("en" -> 300),
            countStages = false)._1
          .select("doc_id", "lang", "source", "quality", "bucket1k",
            "rate_permille", "bucket", "split")
          .orderBy("doc_id"),
      Some(ext.CorpusPipeline.prepareOracleSql("source = 'src19'",
        rates = Seq("en" -> 300)))),

    // Z-order layout keys: Morton interleave of customer and order-day
    // (the curve a Z-ordered layout clusters by — a pure projection)
    ("zorder_key",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        o.select(col("o_orderkey"),
            col("o_custkey"),
            datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
              .as("order_day"))
          .withColumn("zval", graft.functions.ZOrder.zValue(
            col("o_custkey"), col("order_day"), 16))
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_custkey,
        |  CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
        |    AS order_day,
        |  ${graft.functions.ZOrder.zValueSql("o_custkey",
             "datediff('day', DATE '1970-01-01', o_orderdate)", 16)} AS zval
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Video frame-sampling manifest: the per-frame work list a decode
    // stage consumes (generator projection — no shuffle)
    ("frame_sample",
      (s: SparkSession, d: String) =>
        ext.Multimodal.frameSample(t(s, d, "documents"), 8, 4)
          .orderBy("doc_id", "frame_idx"),
      Some(ext.Multimodal.frameSampleOracleSql(8, 4))),

    // Audio segmentation manifest: overlapping fixed windows at a
    // hop stride over each asset's duration -- the ASR-prep shape
    // (video has frame_sample; this is audio's)
    ("audio_segments",
      (s: SparkSession, d: String) =>
        ext.Multimodal.audioSegments(t(s, d, "documents"),
          windowMs = 60, hopMs = 40, sampleRate = 16000)
          .orderBy("doc_id", "seg_idx"),
      Some(ext.Multimodal.audioSegmentsOracleSql(windowMs = 60,
        hopMs = 40, sampleRate = 16000))),

    // Sequence packing: fixed-budget training sequences over the
    // sharded token stream (window parallelized by shard hash)
    ("seq_pack",
      (s: SparkSession, d: String) =>
        ext.Corpus.seqPack(t(s, d, "documents"), col("doc_id"),
          col("text"), 2048, 8).orderBy("doc_id"),
      Some(ext.Corpus.seqPackOracleSql(2048, 8))),

    // Packing manifest: per-(doc, sequence) token spans — what the
    // sequence-assembly stage consumes (straddlers tile exactly)
    ("pack_manifest",
      (s: SparkSession, d: String) =>
        ext.Corpus.packManifest(t(s, d, "documents"), col("doc_id"),
          col("text"), 2048, 8).orderBy("doc_id", "seq_id"),
      Some(ext.Corpus.packManifestOracleSql(2048, 8))),

    // Row-level reconciliation: FULL OUTER source-vs-dim key compare
    // (the reference reconciles totals; this pinpoints the rows)
    ("reconcile_rows",
      (s: SparkSession, d: String) => {
        val src = t(s, d, "events").select(col("user_id").as("k")).distinct()
        val dim = t(s, d, "customer")
          .filter(col("c_custkey") % 7 =!= 0)  // simulate missing rows
          .select(col("c_custkey").as("k")).distinct()
        src.withColumn("in_src", lit(1L)).as("s")
          .join(dim.withColumn("in_dim", lit(1L)).as("m"),
            col("s.k") === col("m.k"), "full_outer")
          .select(coalesce(col("s.k"), col("m.k")).as("k"),
            coalesce(col("in_src"), lit(0L)).as("in_src"),
            coalesce(col("in_dim"), lit(0L)).as("in_dim"))
          .filter(col("in_src") === 0 || col("in_dim") === 0)
          .orderBy("k")
      },
      Some("""WITH s AS (SELECT DISTINCT user_id AS k FROM events),
        |m AS (SELECT DISTINCT c_custkey AS k FROM customer
        |      WHERE c_custkey % 7 <> 0)
        |SELECT coalesce(s.k, m.k) AS k,
        |  CAST(CASE WHEN s.k IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_src,
        |  CAST(CASE WHEN m.k IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_dim
        |FROM s FULL JOIN m ON s.k = m.k
        |WHERE s.k IS NULL OR m.k IS NULL
        |ORDER BY k""".stripMargin)),

    // Global sequence ids via the distributed two-phase prefix sum;
    // the oracle is the single-window spec the plan must reproduce
    ("seq_pack_global",
      (s: SparkSession, d: String) =>
        ext.Corpus.seqPackGlobal(t(s, d, "documents"), col("doc_id"),
          col("text"), 2048, 8).orderBy("doc_id"),
      Some(ext.Corpus.seqPackGlobalOracleSql(2048, 8))),

    // One distributed Lloyd iteration: broadcast-assign + fixed-point
    // centroid update sums
    ("kmeans_update",
      (s: SparkSession, d: String) =>
        ext.Similarity.kmeansUpdate(t(s, d, "embeddings"), 16)
          .orderBy("c_id", "pos"),
      Some(ext.Similarity.kmeansUpdateOracleSql(64, 16))),

    // Data-mixture weights: per-(lang, source) token mass and the
    // equal-share upsampling factor
    ("mix_weights",
      (s: SparkSession, d: String) =>
        ext.Corpus.mixWeights(t(s, d, "documents"), col("lang"),
          col("source"), col("text")).orderBy("g1", "g2"),
      Some(ext.Corpus.mixWeightsOracleSql("lang", "source"))),

    // Temperature-scaled mixture (τ=0.5 via IEEE-exact sqrt): the
    // rebalancing transform between proportional and uniform sampling
    ("mix_temperature",
      (s: SparkSession, d: String) =>
        ext.Corpus.mixTemperature(t(s, d, "documents"), col("source"),
          col("text")).orderBy("g"),
      Some(ext.Corpus.mixTemperatureOracleSql("source"))),

    // Mixture EXECUTION: deterministic hash down-sampling to the
    // smallest stratum's token mass (stateless keep predicate; audit
    // of realized vs target mass per stratum)
    ("mix_sample",
      (s: SparkSession, d: String) =>
        ext.Corpus.mixSample(t(s, d, "documents"), col("doc_id"),
          col("source"), col("text")).orderBy("g"),
      Some(ext.Corpus.mixSampleOracleSql("source"))),

    // The epoch plan the τ=0.5 mixture implies at a fixed token
    // budget: planned draw + milli-epoch repeat factor per stratum,
    // decimal(38,0)-folded — the data-plan table next to mix_weights
    ("mix_epoch_plan",
      (s: SparkSession, d: String) =>
        ext.Corpus.mixEpochPlan(t(s, d, "documents"), col("source"),
          col("text"), budgetTokens = 500000L).orderBy("g"),
      Some(ext.Corpus.mixEpochPlanOracleSql("source", 500000L))),

    // Fixed-width quality bands + per-band token mass (curriculum /
    // quality-cut summary; deliberately not ntile — see scaladoc)
    ("quality_bands",
      (s: SparkSession, d: String) =>
        TextAnalysis.qualityBands(t(s, d, "documents"), col("doc_id"),
          col("text")).orderBy("band"),
      Some(ext.TextAnalysis.qualityBandsOracleSql())),

    // Dataset-version diff: added/removed/changed/unchanged per source
    // between two deterministically derived corpus snapshots (digest
    // compare, never text compare, across the full-outer join)
    ("corpus_diff",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
        val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        ext.Corpus.snapshotDiff(oldSnap, newSnap, col("doc_id"),
          col("text"), col("source")).orderBy("source", "status")
      },
      Some(ext.Corpus.snapshotDiffOracleSql)),

    // Deterministic epoch shuffle: trainer-facing global permutation
    // (shard + exact within-shard and global positions), two-phase —
    // shard-partitioned row_number, constant-size offset window
    // Hard-negative mining: the k most-similar candidates strictly
    // BELOW the dup threshold — contrastive training's negatives
    ("ann_hard_negatives",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
          5, 0.7).orderBy("query_id", "rank")
      },
      Some(Similarity.hardNegativesOracleSql(64, 5, 10, 0.7))),

    // Ordered curriculum manifest: best-quality-first global rank +
    // balanced contiguous shards — the ordered twin of epoch_shuffle
    ("curriculum_manifest",
      (s: SparkSession, d: String) =>
        ext.Corpus.curriculumManifest(t(s, d, "documents"),
          col("doc_id"), col("text"), 8).orderBy("doc_id"),
      Some(ext.Corpus.curriculumManifestOracleSql(8))),

    ("epoch_shuffle",
      (s: SparkSession, d: String) =>
        ext.Corpus.epochShuffle(t(s, d, "documents"), col("doc_id"),
          nShards = 8, epoch = 1).orderBy("doc_id"),
      Some(ext.Corpus.epochShuffleOracleSql(nShards = 8, epoch = 1))),

    // Winnowing (Schleimer et al. 2003) selection-density audit:
    // per-doc gram count vs kept-fingerprint count (~2/(w+1))
    ("winnow_stats",
      (s: SparkSession, d: String) =>
        Dedup.winnowStats(t(s, d, "documents"), col("doc_id"),
          col("text")).orderBy("doc_id"),
      Some(Dedup.winnowStatsOracleSql(k = 5, w = 4))),

    // Near-dup candidates over the winnowed inverted index: pairs
    // sharing >= 2 fingerprints, stop-gram df cap at 50
    ("winnow_overlap",
      (s: SparkSession, d: String) =>
        Dedup.winnowOverlapPairs(t(s, d, "documents"), col("doc_id"),
          col("text")).orderBy("d1", "d2"),
      Some(Dedup.winnowOverlapOracleSql(k = 5, w = 4, minShared = 2,
        maxDf = 50))),

    // Incremental winnow overlap: probe side pre-filtered to the new
    // batch (d2 >= 400), index + df histogram corpus-wide — the
    // winnow twin of dedup_incremental
    ("winnow_incremental",
      (s: SparkSession, d: String) =>
        Dedup.winnowOverlapIncremental(t(s, d, "documents"),
          col("doc_id"), col("text"), newFrom = 400L)
          .orderBy("d1", "d2"),
      Some(Dedup.winnowIncrementalOracleSql(k = 5, w = 4, minShared = 2,
        maxDf = 50, newFrom = 400L))),

    // BPE training round 1: corpus-weighted adjacent symbol-pair
    // counts over the word histogram (the sufficient statistic),
    // top-50 by the deterministic training order
    ("bpe_pair_counts",
      (s: SparkSession, d: String) =>
        ext.Bpe.pairCounts(ext.Bpe.initialTokens(
            ext.Bpe.wordHistogram(t(s, d, "documents"), col("text"))))
          .orderBy(col("pair_cnt").desc, col("a"), col("b")).limit(50),
      Some(ext.Bpe.pairCountsOracleSql(50))),

    // Bloom-filter semi-join pruning audit (Spark-native
    // BloomFilterAggregate/MightContain, the InjectRuntimeFilter
    // internals): exact match counts, provably-zero false negatives,
    // bounded fp rate — raw bloom pass counts stay internal
    ("bloom_prune",
      (s: SparkSession, d: String) =>
        ext.BloomPrune.pruneAudit(
          t(s, d, "customer").filter(col("c_nationkey") < 5),
          col("c_custkey"), t(s, d, "orders"), col("o_custkey")),
      Some(ext.BloomPrune.pruneAuditOracleSql)),

    // Dedup method agreement: text LSH pairs vs embedding cosine
    // pairs over the shared id space — the cross-validation matrix
    // (where surface dup and semantic dup disagree)
    ("dedup_agreement",
      (s: SparkSession, d: String) => {
        val textPairs = Dedup.minhashCandidates(
          Dedup.minhashSignature(t(s, d, "documents"), col("doc_id"),
            col("text"), 3, 8), 8, 2)
        val embPairs = Similarity.nearDupPairs(t(s, d, "embeddings"),
          "vec_id", "embedding", 64, 12, 0.7, nTables = 4)
        Dedup.pairAgreement(textPairs, embPairs).orderBy("method")
      },
      Some(s"""
        |WITH tp AS (${Dedup.minhashOracleSql(3, 8, 2)
          .replaceAll("ORDER BY d1, d2", "")}),
        |ep AS (${Similarity.nearDupOracleSql(64, 12, 0.7, nTables = 4)
          .replaceAll("ORDER BY d1, d2", "")}),
        |j AS (
        |  SELECT coalesce(tp.d1, ep.d1) AS d1,
        |    CASE WHEN tp.d1 IS NOT NULL AND ep.d1 IS NOT NULL THEN 'both'
        |         WHEN tp.d1 IS NOT NULL THEN 'text_only'
        |         ELSE 'embedding_only' END AS method
        |  FROM tp FULL OUTER JOIN ep
        |    ON tp.d1 = ep.d1 AND tp.d2 = ep.d2)
        |SELECT method, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j GROUP BY method ORDER BY method
        |""".stripMargin.trim)),

    // BPE encode audit under fixed literal rules (DuckDB replays the
    // identical greedy fold): chars-per-token compression per source
    ("bpe_encode_count",
      (s: SparkSession, d: String) =>
        ext.Bpe.encodeStats(t(s, d, "documents"), col("source"),
          col("text"), BpeFixedRules).orderBy("g"),
      Some(ext.Bpe.encodeStatsOracleSql("source", BpeFixedRules))),

    // Tokenizer fertility per language: subword tokens per word ppm —
    // the multilingual context-window-cost audit
    ("bpe_fertility",
      (s: SparkSession, d: String) =>
        ext.Bpe.fertility(t(s, d, "documents"), col("lang"),
          col("text"), BpeFixedRules).orderBy("g"),
      Some(ext.Bpe.fertilityOracleSql("lang", BpeFixedRules))),

    // The curation waterfall as data: surviving docs per pipeline
    // stage (quality -> exact dedup -> best-keep -> contamination ->
    // sample -> split), single-sourced from CorpusPipeline.stageFrames
    ("corpus_funnel",
      (s: SparkSession, d: String) =>
        ext.CorpusPipeline.funnel(t(s, d, "documents"),
          col("source") === "src19").orderBy("stage_no"),
      Some(ext.CorpusPipeline.funnelOracleSql("source = 'src19'"))),

    // Deterministic round-robin-by-rank shard assignment + balance
    // audit: per-shard token mass and signed ppm imbalance vs ideal
    ("shard_balance",
      (s: SparkSession, d: String) =>
        ext.Corpus.shardBalance(t(s, d, "documents"), col("doc_id"),
          col("text"), nShards = 8).orderBy("shard"),
      Some(ext.Corpus.shardBalanceOracleSql(nShards = 8))),

    // Web-crawl curation cap: keep the 15 best docs per source by
    // exact-ppm quality — one prolific host can't dominate the mix
    ("domain_cap",
      (s: SparkSession, d: String) =>
        ext.Corpus.domainCap(t(s, d, "documents"), col("doc_id"),
          col("text"), col("source"), cap = 15).orderBy("domain", "rk"),
      Some(ext.Corpus.domainCapOracleSql(cap = 15))),

    // Incremental twin: only delta-touched domains recompute; result
    // pinned row-identical to the full recompute the oracle replays
    ("domain_cap_incremental",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        ext.Corpus.domainCapIncremental(
          docs.filter(col("doc_id") < 400),
          docs.filter(col("doc_id") >= 400),
          col("doc_id"), col("text"), col("source"), cap = 15)
          .orderBy("domain", "rk")
      },
      Some(ext.Corpus.domainCapOracleSql(cap = 15))),

    // Asset-level dedup audit: per sniffed format, byte-identical
    // payload mass in ppm — decides if content-hash dedup precedes
    // the decode stage
    ("media_dedup",
      (s: SparkSession, d: String) =>
        ext.Multimodal.mediaDedup(t(s, d, "documents"))
          .orderBy("format"),
      Some(ext.Multimodal.mediaDedupOracleSql)),

    // OOV audit: per-language token-mass coverage of the global
    // top-100 vocabulary, in exact ppm
    ("vocab_coverage",
      (s: SparkSession, d: String) =>
        ext.TextAnalysis.vocabCoverage(t(s, d, "documents"),
          col("lang"), col("text"), topN = 100).orderBy("g"),
      Some(ext.TextAnalysis.vocabCoverageOracleSql("lang", topN = 100))),

    // "Is the quality gate secretly a length cut?" — exact-ppm
    // Spearman of quality vs token count over the whole corpus
    ("quality_length_bias",
      (s: SparkSession, d: String) =>
        ext.TextAnalysis.qualityLengthBias(t(s, d, "documents"),
          col("doc_id"), col("text")),
      Some(ext.TextAnalysis.qualityLengthBiasOracleSql)),

    // Hashing-trick bag-of-words: dense 64-bucket token-count vector
    // per doc — the stateless text->vector bridge into the ANN paths
    ("feature_hash",
      (s: SparkSession, d: String) =>
        TextAnalysis.featureHash(t(s, d, "documents"), col("doc_id"),
          col("text"))
          .select(col("doc_id"),
            posexplode(col("features")).as(Seq("bucket", "cnt")))
          .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
            col("cnt"))
          .orderBy("doc_id", "bucket"),
      Some(TextAnalysis.featureHashOracleSql())),

    // Exactly-n-per-stratum deterministic carve (eval/review sets),
    // independent hash permutation from every other assignment
    ("fixed_n_sample",
      (s: SparkSession, d: String) =>
        ext.Corpus.fixedNSample(t(s, d, "documents"), col("doc_id"),
          col("source"), n = 10).orderBy("g", "rank_in_stratum"),
      Some(ext.Corpus.fixedNSampleOracleSql("source", n = 10))),

    // Incremental DSIR: LLR table fits on the settled index side
    // only (doc_id < 400), the arriving batch is scored against it —
    // the DSIR twin of dedup_incremental / ann_pq_incremental
    ("dsir_incremental",
      (s: SparkSession, d: String) =>
        ext.Corpus.dsirIncremental(t(s, d, "documents"), col("doc_id"),
          col("text"), col("lang") === "en", col("source"), 400L)
          .orderBy("doc_id"),
      Some(ext.Corpus.dsirIncrementalOracleSql(400L))),

    // Quality-classifier training step: the exact integer first LR
    // gradient at w=0 (label = en target), per feature — the
    // oracle-checked face of LR training
    ("quality_lr_step",
      (s: SparkSession, d: String) =>
        ext.Classifier.lrStep0(t(s, d, "documents"),
          col("text"), col("lang") === "en").orderBy("feature"),
      Some(ext.Classifier.lrStep0OracleSql())),

    // Deployment scoring under FIXED literal weights (BpeFixedRules
    // pattern): logit + threshold flag, zero transcendentals
    ("quality_lr_score",
      (s: SparkSession, d: String) =>
        ext.Classifier.scoreFixed(t(s, d, "documents"), col("doc_id"),
          col("text")).orderBy("doc_id"),
      Some(ext.Classifier.scoreFixedOracleSql())),

    // Calibration/reliability table of the fixed-weight scorer:
    // logit bands x actual-target ppm — "when the scorer says yes,
    // how often is it right", the threshold-transfer audit
    ("quality_calibration",
      (s: SparkSession, d: String) =>
        ext.Classifier.qualityCalibration(t(s, d, "documents"),
          col("doc_id"), col("text"), col("lang") === "en")
          .orderBy("band"),
      Some(ext.Classifier.qualityCalibrationOracleSql())),

    // Quality-filter agreement: the 2x2 (gopher keep, LR keep)
    // contingency table with doc + token mass per cell — the
    // dedup_agreement cross-validation applied to quality signals,
    // one corpus pass (both signals projected from the same scan)
    ("quality_agreement",
      (s: SparkSession, d: String) =>
        ext.Classifier.qualityAgreement(t(s, d, "documents"),
          col("doc_id"), col("text")).orderBy("gopher_keep", "lr_keep"),
      Some(ext.Classifier.qualityAgreementOracleSql())),

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram
    // LLR weights vs the en-language target, top quarter per source
    ("dsir_weights",
      (s: SparkSession, d: String) =>
        ext.Corpus.dsirWeights(t(s, d, "documents"), col("doc_id"),
          col("text"), col("lang") === "en", col("source"))
          .orderBy("doc_id"),
      Some(ext.Corpus.dsirWeightsOracleSql())),

    // Vocabulary-tail audit: per-source corpus-wide-hapax token mass
    // in exact ppm (the min(g)-on-tf-row attribution trick — no
    // second corpus join); the complement of vocab_coverage's head
    ("hapax_stats",
      (s: SparkSession, d: String) =>
        TextAnalysis.hapaxStats(t(s, d, "documents"), col("source"),
          col("text")).orderBy("g"),
      Some(TextAnalysis.hapaxStatsOracleSql)),

    // Lexical diversity per source: type/token counts + exact-ppm TTR
    ("ttr_stats",
      (s: SparkSession, d: String) =>
        TextAnalysis.ttrStats(t(s, d, "documents"), col("doc_id"),
          col("source"), col("text")).orderBy("g"),
      Some(TextAnalysis.ttrStatsOracleSql("source"))),

    // Discounted collocation scores over corpus-wide adjacent word
    // bigrams (Mikolov phrase detection, min-conditional rational
    // variant) — the phrase-merge pass before vocabulary building
    ("phrase_bigrams",
      (s: SparkSession, d: String) =>
        TextAnalysis.phraseBigrams(t(s, d, "documents"), col("text"))
          .orderBy("w1", "w2"),
      Some(TextAnalysis.phraseBigramsOracleSql())),

    // Per-label exact-decimal centroids (k-means update step)
    ("embedding_centroid",
      (s: SparkSession, d: String) =>
        ext.Similarity.labelCentroids(t(s, d, "embeddings"),
          col("label"), col("embedding")).orderBy("label", "pos"),
      Some(ext.Similarity.labelCentroidsOracleSql(64))),

    // Ordered funnel: first view -> first later click -> first later
    // purchase per user (stage-shrinking user-keyed aggs, no window)
    ("funnel_steps",
      (s: SparkSession, d: String) =>
        ext.Sessions.funnel(t(s, d, "events"), col("user_id"), col("ts"),
            col("event_type"), Seq("view", "click", "purchase"))
          .orderBy("user_id"),
      Some(ext.Sessions.funnelOracleSql(Seq("view", "click", "purchase")))),

    // Retention triangle: distinct active users per (first-seen
    // cohort day, day offset)
    ("retention_cohort",
      (s: SparkSession, d: String) =>
        ext.Sessions.retentionCohort(t(s, d, "events"), col("user_id"),
          col("ts")).orderBy("cohort_day", "day_offset"),
      Some(ext.Sessions.retentionCohortOracleSql)),

    // Cohort LTV curve: cumulative revenue per acquisition cohort by
    // month offset, cent-exact folds, one integer division per row
    ("cohort_ltv",
      (s: SparkSession, d: String) =>
        ext.Sessions.cohortLtv(t(s, d, "orders"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice")),
      Some(ext.Sessions.cohortLtvOracleSql)),

    // Incremental cohort LTV: only delta-touched cohorts recompute,
    // the rest carry forward; oracle replays the FULL path, so the
    // green row IS the incremental ≡ full identity
    ("cohort_ltv_incremental",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        val cut = lit("1998-01-01").cast("date")
        ext.Sessions.cohortLtvIncremental(
          o.filter(col("o_orderdate") < cut),
          o.filter(col("o_orderdate") >= cut),
          col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      },
      Some(ext.Sessions.cohortLtvOracleSql)),

    // Event debounce: chained-gap burst collapse to the first event
    // (double-click / retry hygiene) — lag + running sum + one
    // per-burst window, all on one hash partition key
    ("event_dedup",
      (s: SparkSession, d: String) =>
        ext.Sessions.eventDedup(t(s, d, "events"), gapSeconds = 60L),
      Some(ext.Sessions.eventDedupOracleSql(gapSeconds = 60L))),

    // Token-mass-weighted length quantiles: "p of all TOKENS live in
    // docs shorter than L" — distinct-length spine + decimal fences
    ("weighted_quantiles",
      (s: SparkSession, d: String) =>
        ext.Corpus.weightedQuantiles(t(s, d, "documents"), col("text"),
          Seq(250000L, 500000L, 750000L, 900000L, 990000L)),
      Some(ext.Corpus.weightedQuantilesOracleSql(
        Seq(250000L, 500000L, 750000L, 900000L, 990000L)))),

    // Dataset card: the one-row corpus summary a release ships with
    // (single aggregation, exact integer stats only)
    ("corpus_stats",
      (s: SparkSession, d: String) =>
        t(s, d, "documents").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(when(coalesce(col("text"), lit("")) === "", 1L)
            .otherwise(0L)).as("n_empty")),
      Some("""SELECT count(*) AS n_docs,
        |  CAST(sum(CAST(len(str_split(text, ' ')) AS BIGINT)) AS BIGINT)
        |    AS n_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(CASE WHEN coalesce(text, '') = '' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_empty
        |FROM documents""".stripMargin)),

    // The last mile: prepared corpus -> train split -> packed
    // training sequences, oracle-checked end to end
    ("corpus_pack",
      (s: SparkSession, d: String) =>
        ext.CorpusPipeline.preparePack(t(s, d, "documents"),
            col("source") === "src19", 1024, 4, rates = Seq("en" -> 300))
          .orderBy("doc_id"),
      Some(ext.CorpusPipeline.preparePackOracleSql("source = 'src19'",
        1024, 4, rates = Seq("en" -> 300)))),

    // The deepest composition: prepare -> train slice -> CDC span
    // scrub -> pack, oracle-checked as ONE query — the packer sees
    // the scrubbed token stream, so sequence offsets are dense over
    // what a trainer actually reads
    ("corpus_pack_scrubbed",
      (s: SparkSession, d: String) =>
        ext.CorpusPipeline.preparePackScrubbed(t(s, d, "documents"),
            col("source") === "src19", 1024, 4,
            rates = Seq("en" -> 300))
          .orderBy("doc_id"),
      Some(ext.CorpusPipeline.preparePackScrubbedOracleSql(
        "source = 'src19'", 1024, 4, rates = Seq("en" -> 300)))),

    // HLL++ approximate distinct. The sketch value itself is
    // engine-specific, but its accuracy contract is checkable: emit the
    // exact count plus a bound flag (relative error <= 5% at rsd 0.018
    // — a 2.8σ margin, so the flag is a real guarantee, not a coin
    // flip; the default rsd 0.05 would make 5% a 1σ bound that fails
    // one dataset in three — caught by the synthetic second-corpus
    // sweep). DuckDB asserts the exact side and expects the flag to be
    // 1 — a drifting sketch flips it to 0 and fails the hash compare.
    ("approx_distinct",
      (s: SparkSession, d: String) =>
        t(s, d, "events").agg(
            approx_count_distinct(col("user_id"), 0.018).as("approx_users"),
            countDistinct(col("user_id")).as("exact_users"))
          .select(col("exact_users"),
            (abs(col("approx_users") - col("exact_users"))
              <= col("exact_users") * 0.05).cast("long").as("within_bound")),
      Some("""SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM events""".stripMargin)),

    // Tumbling event-time windows: stateless bucket projection +
    // one hash agg
    ("tumbling_window",
      (s: SparkSession, d: String) =>
        Sessions.tumblingAgg(t(s, d, "events"), "ts", "value", 60)
          .orderBy("window_start"),
      Some(Sessions.tumblingAggOracleSql(60))),

    // Sliding event-time windows (60 min wide, 30 min slide): each
    // event in exactly two windows via the half-open window contract
    // (distinct from `sliding_window`, the RANGE-frame trailing-7-day
    // per-customer aggregate)
    ("sliding_event_window",
      (s: SparkSession, d: String) =>
        Sessions.slidingAgg(t(s, d, "events"), "ts", "value", 30)
          .orderBy("window_start"),
      Some(Sessions.slidingAggOracleSql(30))),

    // Trending top-k per time bucket: tumbling 6h windows ranked by
    // event volume (WindowGroupLimit prunes beyond rank k before the
    // final sort — partial top-k per window, never a global sort)
    ("trending_topk",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val counts = t(s, d, "events")
          .groupBy(window(col("ts"), "360 minutes").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        val rk = Window.partitionBy(col("w"))
          .orderBy(col("n_events").desc, col("event_type"))
        counts.withColumn("rk", row_number().over(rk).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("w.start").as("window_start"), col("event_type"),
            col("n_events"), col("rk"))
          .orderBy("window_start", "rk")
      },
      Some("""
        |WITH counts AS (
        |  SELECT time_bucket(INTERVAL '360 minutes', ts) AS window_start,
        |    event_type, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT window_start, event_type, n_events,
        |    CAST(row_number() OVER (PARTITION BY window_start
        |      ORDER BY n_events DESC, event_type) AS BIGINT) AS rk
        |  FROM counts)
        |SELECT window_start, event_type, n_events, rk
        |FROM ranked WHERE rk <= 3 ORDER BY window_start, rk
        |""".stripMargin.trim)),

    // GK-sketch quantile with an exact-rank bound audit (same
    // pattern as approx_distinct): the approx p50 must land between
    // the exact p49 and p51 values — integer cents kill interpolation
    // ulp drift cross-engine
    ("approx_quantile",
      (s: SparkSession, d: String) =>
        t(s, d, "events")
          .select(round(col("value") * 100).cast("long").as("cents"))
          .agg(
            percentile_approx(col("cents"), lit(0.5), lit(10000))
              .as("approx_p50"),
            expr("percentile(cents, 0.49)").as("p49"),
            expr("percentile(cents, 0.5)").as("exact_p50"),
            expr("percentile(cents, 0.51)").as("p51"))
          .select(col("exact_p50"),
            (col("approx_p50") >= col("p49") &&
              col("approx_p50") <= col("p51")).cast("long")
              .as("within_bound")),
      Some("""
        |WITH c AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT quantile_cont(cents, 0.5) AS exact_p50,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM c""".stripMargin.trim)),

    // Bradley–Terry preference ranking (RLHF preference logs /
    // arena leaderboards). The sufficient statistics: ONE hash agg
    // over the match log → ≤ |players|² rows; the only pass that
    // ever touches the corpus
    ("bt_pair_stats",
      (s: SparkSession, d: String) =>
        ext.Prefs.pairStats(ext.Prefs.matchesFrom(t(s, d, "events"), 16))
          .orderBy("p_lo", "p_hi"),
      Some(ext.Prefs.pairStatsOracleSql(16))),

    // Fixed-point MM solve on the aggregated pair relation — 4
    // rounds, exact int64 micro-units; leaderboard = share-
    // normalized rating beside unsmoothed wins / n_matches
    ("bt_rating",
      (s: SparkSession, d: String) =>
        ext.Prefs.btRating(ext.Prefs.pairStats(
          ext.Prefs.matchesFrom(t(s, d, "events"), 16)), iters = 4),
      Some(ext.Prefs.btRatingOracleSql(16, 4))),

    // One leaderboard per match day, all solved in ONE dataflow —
    // the keyed MM chain carries match_day through every join and
    // aggregate, so |days| independent solves cost one plan, not a
    // driver loop of per-window jobs (rating-over-time, the read a
    // preference pipeline actually ships)
    ("bt_rating_daily",
      (s: SparkSession, d: String) =>
        ext.Prefs.btRatingByDay(ext.Prefs.pairStatsByDay(
          ext.Prefs.datedMatchesFrom(t(s, d, "events"), 16)), iters = 3),
      Some(ext.Prefs.btRatingByDayOracleSql(16, 3))),

    // The solver's convergence trace (iter, max_delta, sum_p) — the
    // dial that sizes `iters`, declared as an oracle-checked query
    ("bt_convergence",
      (s: SparkSession, d: String) =>
        ext.Prefs.btConvergence(ext.Prefs.pairStats(
          ext.Prefs.matchesFrom(t(s, d, "events"), 16)), iters = 4),
      Some(ext.Prefs.btConvergenceOracleSql(16, 4))),

    // Synchronous label-propagation communities over the part
    // co-order graph — plurality label, smallest-label tie-break
    // (total order ⇒ engine-exact). Declared at 2 rounds: the
    // community_rounds census shows round 3 collapsing this dense
    // fixture to 3 labels (the known sync-LPA epidemic), so 2 is the
    // partition a mixture-balancing consumer would actually keep
    // Multi-source BFS over the part co-order graph: shortest hop
    // distance from each seed (bounded seed set), 3 unrolled levels
    ("graph_bfs_reach",
      (s: SparkSession, d: String) =>
        ext.Bfs.reach(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), seedMax = 10L,
          maxHops = 3)
          .orderBy("seed", "dist", "node_id"),
      Some(ext.Bfs.reachOracleSql(seedMax = 10L, maxHops = 3))),

    // Neighborhood-growth census: nodes per (seed, hop distance) —
    // the effective-diameter profile that prices a traversal
    ("graph_reach_stats",
      (s: SparkSession, d: String) =>
        ext.Bfs.levels(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), seedMax = 10L,
          maxHops = 3)
          .orderBy("seed", "dist"),
      Some(ext.Bfs.levelsOracleSql(seedMax = 10L, maxHops = 3))),

    // Weighted bounded-hop SSSP (Bellman-Ford rounds) over the part
    // co-order graph: edge cost = 1e6 DIV co-occurrence count
    ("graph_sssp",
      (s: SparkSession, d: String) =>
        ext.Sssp.sssp(ext.Sssp.coEdgesWeighted(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), seedMax = 5L,
          rounds = 3)
          .orderBy("seed", "node_id"),
      Some(ext.Sssp.ssspOracleSql(seedMax = 5L, rounds = 3))),

    // Personalized PageRank from a bounded seed set: the surfer
    // restarts AT the seeds, so scores read "pulled toward the seed
    // set" -- seed-list expansion / contamination-spread tracing
    ("graph_ppr",
      (s: SparkSession, d: String) =>
        ext.Ppr.ppr(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), seedMax = 5L,
          iters = 3)
          .orderBy("node_id"),
      Some(ext.Ppr.pprOracleSql(seedMax = 5L, iters = 3))),

    // Seed-sampled bounded-horizon betweenness: the broker/bridge
    // census -- forward BFS with a path-count ledger, backward
    // Brandes dependency accumulation, both frontier-join rounds
    ("graph_betweenness",
      (s: SparkSession, d: String) =>
        ext.Betweenness.betweenness(ext.Graph.coEdges(
          t(s, d, "lineitem"), col("l_orderkey"), col("l_partkey")),
          seedMax = 5L, hops = 3, k = 100)
          .orderBy("rank"),
      Some(ext.Betweenness.betweennessOracleSql(seedMax = 5L,
        hops = 3, k = 100))),

    // Per-seed PPR top-k with known-neighbor exclusion: the
    // find-more-like-these serving shape -- each seed's own restart
    // vector, candidates it already touches anti-joined away
    ("graph_ppr_recommend",
      (s: SparkSession, d: String) =>
        ext.Ppr.pprRecommend(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), seedMax = 5L,
          iters = 3, k = 10)
          .orderBy("seed", "rank"),
      Some(ext.Ppr.pprRecommendOracleSql(seedMax = 5L, iters = 3,
        k = 10))),

    // Bounded-horizon closeness: reach count + mean weighted distance
    // per seed -- one keyed aggregate over the sssp state
    ("graph_closeness",
      (s: SparkSession, d: String) =>
        ext.Sssp.closeness(ext.Sssp.coEdgesWeighted(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), seedMax = 5L,
          rounds = 3)
          .orderBy("seed"),
      Some(ext.Sssp.closenessOracleSql(seedMax = 5L, rounds = 3))),

    // HITS hubs/authorities on the customer->supplier bipartite:
    // mutually-recursive two-role centrality (PageRank collapses the
    // roles), 3 fixed-point rounds, max-normalized per kind
    ("hits_scores",
      (s: SparkSession, d: String) =>
        ext.Hits.hits(ext.Hits.edges(t(s, d, "orders"),
          t(s, d, "lineitem")), iters = 3)
          .orderBy("kind", "node_id"),
      Some(ext.Hits.hitsOracleSql(iters = 3))),

    ("community_lpa",
      (s: SparkSession, d: String) =>
        ext.Community.lpa(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), rounds = 2),
      Some(ext.Community.lpaOracleSql(2))),

    // LPA consolidation trajectory (round, n_communities, largest) —
    // the rounds dial, kcore_rounds-style census; run one round PAST
    // the declared partition so the collapse is visible in the data
    ("community_rounds",
      (s: SparkSession, d: String) =>
        ext.Community.lpaRounds(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), rounds = 3),
      Some(ext.Community.lpaRoundsOracleSql(3))),

    // Newman–Girvan modularity of the declared (2-round) partition,
    // exact ppm per community (quadratic term in decimal(38,0) /
    // HUGEINT) — Σ q_ppm ≈ 0.027 on this fixture, i.e. the score
    // says "near-random graph, don't trust the communities", which
    // is precisely the pre-flight read it exists to give
    ("community_modularity",
      (s: SparkSession, d: String) =>
        ext.Community.modularity(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), rounds = 2),
      Some(ext.Community.modularityOracleSql(2))),

    // DeepWalk-style walk corpus over the part co-order graph: one
    // 3-step deterministic (hash-selected) walk per node — exact
    // rows on both engines, and re-derivable after shard loss, which
    // a true-RNG walk generator can't offer
    ("graph_walks",
      (s: SparkSession, d: String) =>
        ext.Walks.walks(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), length = 3),
      Some(ext.Walks.walksOracleSql(3))),

    // Walk visit census vs degree — the stationary-distribution
    // sanity read (undirected RW visits ∝ degree) that audits the
    // hash selection for systematic bias before training on walks
    ("walk_visit_stats",
      (s: SparkSession, d: String) =>
        ext.Walks.visitStats(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), length = 3),
      Some(ext.Walks.visitStatsOracleSql(3))),

    // Build-once/extend-many for walk corpora: a length-3 corpus
    // extended by 2 steps, ORACLE = the from-scratch length-5 chain —
    // the hash selection makes the equivalence checkable row-for-row
    // (prefix never re-walked; extension pays only the new steps)
    ("graph_walks_extended",
      (s: SparkSession, d: String) => {
        // one ranked adjacency over the pinned edges: the corpus
        // build and the extension both walk it
        val adj = ext.Walks.rankedAdjacency(ext.Pin.pin(ext.Graph.coEdges(
          t(s, d, "lineitem"), col("l_orderkey"), col("l_partkey"))))
        ext.Walks.extendWalks(ext.Walks.walksOn(adj, length = 3), adj,
          fromLength = 3, extraSteps = 2)
      },
      Some(ext.Walks.walksOracleSql(5))),

    // node2vec second-order biased walks: from step 2 the hop out of
    // cur weights neighbors by relation to prev (return 1 / common 4
    // / outward 2 — the 1/p, 1, 1/q terms as exact integers),
    // selected by hash mod running-weight-sum; first hop shared with
    // the uniform variant so divergence after it IS the bias
    ("graph_walks_biased",
      (s: SparkSession, d: String) =>
        ext.Walks.biasedWalks(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), length = 3,
          wReturn = 1L, wCommon = 4L, wOut = 2L),
      Some(ext.Walks.biasedWalksOracleSql(3, 1L, 4L, 2L))),

    // Extend-many for the BIASED corpus too: second-order state
    // (prev, cur) recovered from the persisted corpus's last two
    // steps; oracle = the from-scratch length-5 biased chain
    ("graph_walks_biased_extended",
      (s: SparkSession, d: String) => {
        // one set of neighbor arrays: both legs walk it
        val nbrArr = ext.Walks.neighborArrays(ext.Graph.coEdges(
          t(s, d, "lineitem"), col("l_orderkey"), col("l_partkey")))
        ext.Walks.extendBiasedWalks(
          ext.Walks.biasedWalksOn(nbrArr, length = 3, 1L, 4L, 2L), nbrArr,
          fromLength = 3, extraSteps = 2, 1L, 4L, 2L)
      },
      Some(ext.Walks.biasedWalksOracleSql(5, 1L, 4L, 2L))),

    // The dial's measurable: backtrack (s vs s−2) rate per walk
    // variant in exact ppm — wReturn=1 < wOut=2 must push the biased
    // rate below uniform's, and the audit row is where that shows
    ("walk_bias_audit",
      (s: SparkSession, d: String) =>
        ext.Walks.walkBiasAudit(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), length = 3,
          wReturn = 1L, wCommon = 4L, wOut = 2L),
      Some(ext.Walks.walkBiasAuditOracleSql(3, 1L, 4L, 2L))),

    // Skip-gram co-occurrence head: window-2 pairs on the same walk,
    // top-200 by count — the bounded corpus preview of the pair set
    // a node-embedding trainer would consume
    ("walk_cooccurrence",
      (s: SparkSession, d: String) =>
        ext.Walks.cooccurrence(ext.Graph.coEdges(t(s, d, "lineitem"),
          col("l_orderkey"), col("l_partkey")), length = 3, window = 2,
          k = 200),
      Some(ext.Walks.cooccurrenceOracleSql(3, 2, 200))),

    // ------------------------------------------------------------
    // Pairwise generation evals (ext/TextPairEval.scala): ROUGE-n
    // clipped multiset overlap + BLEU-style clipped precision, the
    // text-vs-reference-text metric the retrieval shelf lacks. All
    // ppm fixed point; pairs = consecutive same-source docs (the
    // fixture twin of the eval harness's candidate/reference table)
    // ------------------------------------------------------------
    ("eval_rouge1",
      (s: SparkSession, d: String) =>
        ext.TextPairEval.rougeN(t(s, d, "documents"), col("doc_id"),
          col("source"), col("text"), n = 1).orderBy("cand_id"),
      Some(ext.TextPairEval.rougeNOracleSql(1))),

    ("eval_rouge2",
      (s: SparkSession, d: String) =>
        ext.TextPairEval.rougeN(t(s, d, "documents"), col("doc_id"),
          col("source"), col("text"), n = 2).orderBy("cand_id"),
      Some(ext.TextPairEval.rougeNOracleSql(2))),

    ("eval_bleu",
      (s: SparkSession, d: String) =>
        ext.TextPairEval.bleuProxy(t(s, d, "documents"), col("doc_id"),
          col("source"), col("text")).orderBy("cand_id"),
      Some(ext.TextPairEval.bleuProxyOracleSql)),

    // ------------------------------------------------------------
    // Persisted lexical inverted index (ext/Lexical.scala): the
    // third build-once/search-many index family. Search pays
    // |postings of the query terms| (bucket-pruned), never |corpus|;
    // scoring is bm25TopK's exact integer fixed point, so the same
    // oracle adjudicates both paths
    // ------------------------------------------------------------
    ("bm25_persisted",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val dir = indexScratch(d, "lex_v1_b16", "documents")
        if (!ext.Lexical.lexIndexExists(s, dir))
          publishIndexAtomic(s, dir, ext.Lexical.lexIndexExists)(tmp =>
            ext.Lexical.lexWriteIndex(docs, col("doc_id"), col("text"),
              tmp, nBuckets = 16))
        ext.Lexical.lexSearchIndex(s, dir,
          Seq("spark", "merge", "window", "customer"), 20, nBuckets = 16)
      },
      Some(ext.Corpus.bm25TopKOracleSql(
        Seq("spark", "merge", "window", "customer"), 20))),

    // Index audit: segment-summed corpus stats + postings census,
    // oracled straight from the documents table
    ("lex_index_stats",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val dir = indexScratch(d, "lex_v1_b16", "documents")
        if (!ext.Lexical.lexIndexExists(s, dir))
          publishIndexAtomic(s, dir, ext.Lexical.lexIndexExists)(tmp =>
            ext.Lexical.lexWriteIndex(docs, col("doc_id"), col("text"),
              tmp, nBuckets = 16))
        ext.Lexical.lexIndexStats(s, dir)
      },
      Some(ext.Lexical.lexIndexStatsOracleSql)),

    // Serve-path hybrid: the SAME RRF composition as hybrid_rrf_topk
    // but with both legs reading their persisted indexes (BM25
    // inverted index + IVF-PQ) — one query, two indexes, zero corpus
    // scans. The vector leg is the PQ approximation by declared
    // contract (priced by ann_pq_recall); the oracle reproduces it
    ("hybrid_rrf_serve",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val lexDir = indexScratch(d, "lex_v1_b16", "documents")
        if (!ext.Lexical.lexIndexExists(s, lexDir))
          publishIndexAtomic(s, lexDir, ext.Lexical.lexIndexExists)(tmp =>
            ext.Lexical.lexWriteIndex(docs, col("doc_id"), col("text"),
              tmp, nBuckets = 16))
        val pqDir = indexScratch(d, "pq_v1_c16_m8_k16_d64", "embeddings")
        if (!Similarity.ivfPqIndexExists(s, pqDir))
          publishIndexAtomic(s, pqDir)(tmp =>
            Similarity.ivfPqWriteIndex(emb,
              Similarity.pqSampleCodebooks(emb, 8, 16, 8), 16, 8, 64, tmp))
        Similarity.hybridServeTopK(s, lexDir, pqDir, emb,
          Seq("spark", "merge", "window", "customer"), 0L, 10,
          depth = 20, nBuckets = 16, nProbe = 4, m = 8, dim = 64,
          rerank = 20)
      },
      Some(Similarity.hybridServeTopKOracleSql(64,
        Seq("spark", "merge", "window", "customer"), 10, depth = 20,
        nCentroids = 16, nProbe = 4, m = 8, ksub = 16, rerank = 20))),

    // Batch serving: one pruned postings pass answers a whole query
    // relation (df in-plan, one window for all queries) -- the
    // request-batch posture the per-query form can't amortize
    ("lex_search_batch",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val dir = indexScratch(d, "lex_v1_b16", "documents")
        if (!ext.Lexical.lexIndexExists(s, dir))
          publishIndexAtomic(s, dir, ext.Lexical.lexIndexExists)(tmp =>
            ext.Lexical.lexWriteIndex(docs, col("doc_id"), col("text"),
              tmp, nBuckets = 16))
        import s.implicits._
        val q = Seq(0L -> "spark", 0L -> "merge", 1L -> "window",
          1L -> "customer", 2L -> "merge", 2L -> "window",
          2L -> "customer").toDF("query_id", "term")
        ext.Lexical.lexSearchMany(s, dir, q, 10, nBuckets = 16)
      },
      Some(ext.Lexical.lexSearchManyOracleSql(
        Seq(0L -> "spark", 0L -> "merge", 1L -> "window",
          1L -> "customer", 2L -> "merge", 2L -> "window",
          2L -> "customer"), 10))),

    // The serve path's own audit: overlap@k of the two-persisted-
    // index hybrid against the exact-dense-leg hybrid -- PQ
    // approximation as it propagates THROUGH rank fusion
    ("hybrid_rrf_serve_recall",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val lexDir = indexScratch(d, "lex_v1_b16", "documents")
        if (!ext.Lexical.lexIndexExists(s, lexDir))
          publishIndexAtomic(s, lexDir, ext.Lexical.lexIndexExists)(tmp =>
            ext.Lexical.lexWriteIndex(docs, col("doc_id"), col("text"),
              tmp, nBuckets = 16))
        val pqDir = indexScratch(d, "pq_v1_c16_m8_k16_d64", "embeddings")
        if (!Similarity.ivfPqIndexExists(s, pqDir))
          publishIndexAtomic(s, pqDir)(tmp =>
            Similarity.ivfPqWriteIndex(emb,
              Similarity.pqSampleCodebooks(emb, 8, 16, 8), 16, 8, 64, tmp))
        Similarity.hybridServeRecall(s, lexDir, pqDir, docs, emb,
          Seq("spark", "merge", "window", "customer"), 0L, 10,
          depth = 20, nBuckets = 16, nProbe = 4, m = 8, dim = 64,
          rerank = 20)
      },
      Some(Similarity.hybridServeRecallOracleSql(64,
        Seq("spark", "merge", "window", "customer"), 10, depth = 20,
        nCentroids = 16, nProbe = 4, m = 8, ksub = 16, rerank = 20))),

    // The LEXICAL side of the eval shelf: each query doc's 3 rarest
    // terms search the persisted index (batch form), first same-
    // source hit reports reciprocal rank -- the sparse twin of
    // retrieval_mrr
    ("lex_retrieval_mrr",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val dir = indexScratch(d, "lex_v1_b16", "documents")
        if (!ext.Lexical.lexIndexExists(s, dir))
          publishIndexAtomic(s, dir, ext.Lexical.lexIndexExists)(tmp =>
            ext.Lexical.lexWriteIndex(docs, col("doc_id"), col("text"),
              tmp, nBuckets = 16))
        ext.RetrievalEval.lexRetrievalMrr(s, dir, docs, qMax = 50L,
          nTerms = 3, depth = 20, nBuckets = 16)
      },
      Some(ext.RetrievalEval.lexRetrievalMrrOracleSql(qMax = 50L,
        nTerms = 3, depth = 20))),

    // The full hybrid REQUEST BATCH: one postings pass + one PQ pass
    // answer three (terms, vector) requests, fused per query -- both
    // persisted indexes amortized over the batch
    ("hybrid_serve_batch",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val lexDir = indexScratch(d, "lex_v1_b16", "documents")
        if (!ext.Lexical.lexIndexExists(s, lexDir))
          publishIndexAtomic(s, lexDir, ext.Lexical.lexIndexExists)(tmp =>
            ext.Lexical.lexWriteIndex(docs, col("doc_id"), col("text"),
              tmp, nBuckets = 16))
        val pqDir = indexScratch(d, "pq_v1_c16_m8_k16_d64", "embeddings")
        if (!Similarity.ivfPqIndexExists(s, pqDir))
          publishIndexAtomic(s, pqDir)(tmp =>
            Similarity.ivfPqWriteIndex(emb,
              Similarity.pqSampleCodebooks(emb, 8, 16, 8), 16, 8, 64, tmp))
        import s.implicits._
        val qTerms = Seq(0L -> "spark", 0L -> "merge", 1L -> "window",
          1L -> "customer", 2L -> "merge", 2L -> "window",
          2L -> "customer").toDF("query_id", "term")
        Similarity.hybridServeMany(s, lexDir, pqDir, emb, qTerms,
          emb.filter(col("vec_id") < 3), 10, depth = 20,
          nBuckets = 16, nProbe = 4, m = 8, dim = 64, rerank = 20)
      },
      Some(Similarity.hybridServeManyOracleSql(64,
        Seq(0L -> "spark", 0L -> "merge", 1L -> "window",
          1L -> "customer", 2L -> "merge", 2L -> "window",
          2L -> "customer"), nQueries = 3L, k = 10, depth = 20,
        nCentroids = 16, nProbe = 4, m = 8, ksub = 16, rerank = 20)))
  )

  // ---- flagship fact build (SURVEY §7.4) ----

  def factBuild(s: SparkSession, d: String): DataFrame = {
    val dimCust = Scd2.withSurrogate(
      t(s, d, "customer").filter(col("c_custkey") % 10 =!= 0),
      "customer_sk_src", Seq("c_custkey")).select("customer_sk_src", "c_custkey")
    val dimPart = Scd2.withSurrogate(t(s, d, "part"),
      "part_sk_src", Seq("p_partkey")).select("part_sk_src", "p_partkey")
    val dimSupp = Scd2.withSurrogate(t(s, d, "supplier"),
      "supplier_sk_src", Seq("s_suppkey")).select("supplier_sk_src", "s_suppkey")

    val o = t(s, d, "orders")
    val base = FactLoader.withMeasures(
        t(s, d, "lineitem").join(o, col("l_orderkey") === col("o_orderkey")))
      .withColumn("sales_nk", FactLoader.salesNk)
      .withColumn("order_datekey",
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).cast("long"))

    base
      .join(broadcast(dimCust), col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(dimPart), col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(dimSupp), col("l_suppkey") === col("s_suppkey"), "left")
      .select(col("sales_nk"),
        coalesce(col("customer_sk_src"), lit(-1L)).as("customer_sk"),
        coalesce(col("part_sk_src"), lit(-1L)).as("part_sk"),
        coalesce(col("supplier_sk_src"), lit(-1L)).as("supplier_sk"),
        col("order_datekey"), col("quantity").cast("double"),
        col("value_gross").cast("double"),
        col("value_discounted").cast("double"),
        col("value_posttax").cast("double"))
      .orderBy("sales_nk")
  }

  lazy val factBuildOracle: String =
    """WITH dim_cust AS (
    |  SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
    |    c_custkey FROM customer WHERE c_custkey % 10 <> 0),
    |dim_part AS (
    |  SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT) AS part_sk,
    |    p_partkey FROM part),
    |dim_supp AS (
    |  SELECT CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS supplier_sk,
    |    s_suppkey FROM supplier)
    |SELECT
    |  CAST(l.l_orderkey AS VARCHAR) || '-' || CAST(l.l_linenumber AS VARCHAR) AS sales_nk,
    |  coalesce(dc.customer_sk, -1) AS customer_sk,
    |  coalesce(dp.part_sk, -1) AS part_sk,
    |  coalesce(ds.supplier_sk, -1) AS supplier_sk,
    |  CAST(year(o.o_orderdate)*10000 + month(o.o_orderdate)*100
    |    + day(o.o_orderdate) AS BIGINT) AS order_datekey,
    |  CAST(CAST(l.l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS quantity,
    |  CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) AS DOUBLE) AS value_gross,
    |  CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) *
    |    (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
    |    AS DECIMAL(18,4)) AS DOUBLE) AS value_discounted,
    |  CAST(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) *
    |    (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
    |    AS DECIMAL(18,4)) *
    |    (CAST(1 AS DECIMAL(4,2)) + CAST(l.l_tax AS DECIMAL(4,2)))
    |    AS DECIMAL(18,6)) AS DOUBLE) AS value_posttax
    |FROM lineitem l
    |JOIN orders o ON l.l_orderkey = o.o_orderkey
    |LEFT JOIN dim_cust dc ON o.o_custkey = dc.c_custkey
    |LEFT JOIN dim_part dp ON l.l_partkey = dp.p_partkey
    |LEFT JOIN dim_supp ds ON l.l_suppkey = ds.s_suppkey
    |ORDER BY sales_nk""".stripMargin
}
