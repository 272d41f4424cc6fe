package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ext.Dedup
import graft.sources.Tables

/** Helpers shared by the catalog families: the scopes a row's session
  * settings ([[withConf]]) and streams ([[drain]]) run in, write-once
  * staging under `/tmp/graft_*` keyed by [[dirTag]], the session-scoped
  * plan memos that [[graft.SparkEntry.evictCaches]] clears, and the oracle
  * texts rows of different families share.
  */
private[graft] object Support {

  /** A unique total-order key over lineitem ((l_orderkey, l_linenumber) has
    * duplicates in the testdata; this 6-column set is verified unique at
    * every SF).
    */
  private[graft] val liKey =
    Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice")

  /** Runs `body` with each `key -> value` set in the session, then puts
    * every key back as it was: its previous explicit value, or unset if it
    * had none (so a default is never left behind as an explicit setting).
    * The one scope for a row's session settings: the session is shared,
    * and a setting that outlives its row changes every later row's plan.
    * Spark reads SQL settings when it plans, so a DataFrame returned out of
    * the scope replans under the restored values unless it was planned
    * (`queryExecution.executedPlan`) or cached inside.
    */
  private[graft] def withConf[A](s: SparkSession, settings: (String, String)*)(
      body: => A): A = {
    val explicit = s.conf.getAll // only the keys set in this session
    val saved = settings.map { case (k, _) => k -> explicit.get(k) }
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Drives a started streaming query to the end of its input, then stops
    * it in a `finally`: the one point where every streaming row's stream
    * runs. An `AvailableNow` query ends by itself once it has drained what
    * was there at its start, so it is awaited; any other query is driven
    * with `processAllAvailable()`, which returns once no new data is left
    * or the query has stopped. The public `StreamingQuery` API does not
    * expose the trigger, so the caller says which it started. Returns the
    * query for its progress reports.
    */
  private[graft] def drain(q: StreamingQuery,
      availableNow: Boolean = false): StreamingQuery = {
    try if (availableNow) q.awaitTermination() else q.processAllAvailable()
    finally q.stop()
    q
  }

  /** Directory tag for write-once artifacts (bucketed/partitioned/json
    * tables) and temp-view names: a 64-bit md5 prefix of the path PLUS the
    * (name, length, mtime) of every parquet file directly in it. A 32-bit
    * `hashCode` tag can collide across directories, and the
    * exists/tableExists guards would then silently serve one directory's
    * artifacts as the other's; hashing the source fingerprint additionally
    * invalidates every staged artifact if the testdata is ever
    * REGENERATED in place — a path-only tag would keep serving stale
    * staged copies while the oracle reads the fresh files (one directory
    * listing per tag computation; memoized below). The memo is PER-JVM:
    * the regeneration invalidation holds across processes, but a
    * long-lived session that regenerates data in place keeps serving the
    * old tag — use a fresh session (or process) after in-place rewrites.
    * When a fresh JVM observes that a directory's tag CHANGED (via the
    * breadcrumb below), the superseded tag's /tmp artifact trees are
    * best-effort deleted, so regeneration does not accumulate orphaned
    * staged copies unboundedly.
    */
  private[graft] val dirTagMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** JVM-wide single-writer gate for the write-once `/tmp/graft_*`
    * staging artifacts (ADVICE r10): without it, two sessions in THIS JVM
    * racing the same check-then-write could both enter `mode(overwrite)`
    * while a third reads a half-replaced directory. The build now
    * serializes behind a per-directory lock with a double guard check.
    * Cross-JVM races remain a documented single-writer assumption — the
    * same one in-place data regeneration already carries (see [[dirTag]]'s
    * reaper note).
    */
  private[graft] val stageLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def stagedOnceGuarded(dir: String)(ready: => Boolean)(
      write: => Unit): Unit =
    if (!ready)
      stageLocks.computeIfAbsent(dir, _ => new Object).synchronized {
        if (!ready) write
      }
  private[graft] def stagedOnce(dir: String)(write: => Unit): Unit =
    stagedOnceGuarded(dir)(new java.io.File(dir, "_SUCCESS").exists())(write)

  private[graft] def dirTag(d: String): String =
    dirTagMemo.computeIfAbsent(d, { dir =>
      val fp = new StringBuilder(dir)
      val files = new java.io.File(dir).listFiles()
      if (files != null)
        files.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .foreach(f => fp.append('|').append(f.getName)
            .append(':').append(f.length).append(':').append(f.lastModified))
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(fp.toString.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      // breadcrumb dir→tag; a changed tag means the data was regenerated
      // and every staged tree of the OLD tag is garbage — reap it now
      try {
        val dirKey = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
        val crumb = java.nio.file.Paths.get(s"/tmp/graft_tags/$dirKey")
        java.nio.file.Files.createDirectories(crumb.getParent)
        val old =
          if (java.nio.file.Files.exists(crumb))
            Some(java.nio.file.Files.readString(crumb).trim)
          else None
        if (!old.contains(tag)) {
          // NOTE: another long-lived JVM that memoized the OLD tag may
          // still be reading these trees; it will fail loudly on its next
          // access instead of silently serving artifacts staged from
          // superseded data — the intended side of that trade (in-place
          // regeneration already requires fresh sessions, see above)
          // every /tmp/graft_* root is listed, so a staging root needs no
          // registration to be reaped
          for {
            stale <- old.filter(_.nonEmpty)
            roots <- Option(new java.io.File("/tmp").listFiles()).toSeq
            root <- roots if root.getName.startsWith("graft_")
          } graft.engine.Fs.deleteRecursively(new java.io.File(root, stale))
          java.nio.file.Files.writeString(crumb, tag): Unit
        }
      } catch { case _: java.io.IOException => () } // cleanup is best-effort
      tag
    })

  /** Bounded LRU of the take rows' cached indexed tables, keyed per (session,
    * directory). The cache itself is deliberate — index ONCE, gather many —
    * but a long-lived session serving many directories would otherwise
    * accumulate one MEMORY_AND_DISK entry per directory forever (ADVICE
    * r4); evicted entries are unpersisted and simply recompute if gathered
    * again. Note when reading bench counters: cached reads are invisible to
    * the listener's input metrics, so q_take's rows/bytes rates cover only
    * the uncached index side.
    */
  private[graft] val MaxTakeCacheEntries = 4
  private[graft] val takeIndexMemo =
    new java.util.LinkedHashMap[String, DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DataFrame]): Boolean =
        if (size > MaxTakeCacheEntries) { e.getValue.unpersist(false); true }
        else false
    }

  /** Bounded LRU of [[pairRecallVerdict]]'s persisted full-outer pair
    * joins, keyed per (session, canonical plan) — same eviction
    * discipline as [[takeIndexMemo]] (ADVICE r11): one entry per pair
    * family×directory would otherwise accumulate for the session
    * lifetime, and pair-set size grows linearly with the corpus. Keyed
    * by the analyzed plan's semantic hash so re-runs of the same family
    * on the same directory reuse the one persisted instance (the same
    * dedupe CacheManager would do, but now with eviction).
    */
  private[graft] val MaxPairVerdictCacheEntries = 4
  private[graft] val pairVerdictMemo =
    new java.util.LinkedHashMap[String, DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DataFrame]): Boolean =
        if (size > MaxPairVerdictCacheEntries) { e.getValue.unpersist(false); true }
        else false
    }

  /** Bucketed-table gate that is write-once ACROSS JVMs, not just within
    * one: the in-memory catalog is empty in every fresh JVM (the driver
    * runs Verify and Bench as separate processes), so gating on
    * `tableExists` alone would rewrite the files on every run — wasted
    * work charged to the first touching query, and a race against any
    * concurrent reader of the old files. If the path is already fully
    * written (`_SUCCESS`), ATTACH it as an external bucketed table
    * (`CREATE TABLE … CLUSTERED BY … LOCATION`) instead of rebuilding;
    * bucket ids live in the file names, so the attached table keeps the
    * exchange-free join property (pinned by `BucketingSpec`).
    */
  private[graft] def bucketedTable(
      s: SparkSession, table: String, path: String, schemaDdl: String,
      key: String)(build: => DataFrame): DataFrame = {
    stagedOnceGuarded(path)(s.catalog.tableExists(table)) {
      if (new java.io.File(path, "_SUCCESS").exists())
        s.sql(
          s"""CREATE TABLE IF NOT EXISTS $table ($schemaDdl) USING parquet
             |CLUSTERED BY ($key) SORTED BY ($key) INTO 16 BUCKETS
             |LOCATION '$path'""".stripMargin)
      else
        build.write.bucketBy(16, key).sortBy(key)
          .option("path", path).mode("overwrite").saveAsTable(table)
    }
    s.table(table)
  }

  /** Registers a temp view whose name is unique per data directory, so
    * queries over different directories can run concurrently in one
    * session without clobbering each other's views (a fixed name would be
    * replaced mid-query by the other run). Within one directory the
    * replace is idempotent — same definition, benign.
    */
  private[graft] def tempView(
      s: SparkSession, d: String, name: String,
      df: org.apache.spark.sql.DataFrame): String = {
    val full = s"${name}_${dirTag(d)}"
    df.createOrReplaceTempView(full)
    full
  }

  /** Write-once staged EXACT pair-audit sets — the [[stagedKnnSuspects]]
    * discipline generalized to the pairRecallVerdict families: each exact
    * side is a pure function of the corpus directory and is its row's
    * dominant cost (the quarantined quadratic or banded scan), so it is
    * paid ONCE per corpus and every later run reads the KB-scale pair
    * parquet. The live operators stay exercised — the first build per
    * corpus runs them, [[qCosinePairs]] runs the brute scan live as its
    * own row every time, and the LSH production sides run on every
    * invocation (pinned by the staged-artifact plan audit).
    */
  private[graft] def stagedExactPairs(s: SparkSession, d: String, family: String)(
      build: => DataFrame): DataFrame = {
    val dir = s"/tmp/graft_pairs/${dirTag(d)}/$family"
    stagedOnce(dir) {
      build.repartition(1).write.mode("overwrite").parquet(dir)
    }
    Tables.parquet(s, dir)
  }

  /** Write-once staged near-dup pair set at threshold 0.5 (dirTag
    * discipline, like the PageRank edge table and the ANN index):
    * `q_dup_clusters`, `q_dedup_canonical`, and `q_graph_triangles` are
    * three downstream CONSUMERS of one pair-finding run — exactly how a
    * production pipeline amortizes its expensive stage (find pairs once,
    * cluster/canonicalize/diagnose from the artifact). The live pair
    * operator itself stays exercised end-to-end by `q_ngram_jaccard` (and
    * at threshold 0.03 by `q_contamination`/`q_corpus_pipeline`). The
    * single-file coalesce is an oracle-scale convenience (hundreds of
    * rows); a production artifact stays partitioned.
    */
  private[graft] def stagedDupPairs(s: SparkSession, d: String): DataFrame =
    stagedExactPairs(s, d, "t05")(
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b")))

  // q_events_window and q_stream_agg return the same result set
  private[graft] val eventsWindowOracle: String =
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
