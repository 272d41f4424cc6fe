package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.EventsPipeline
import graft.catalog.Support._
import graft.catalog.Tag._

/** Structured-streaming rows: a finite feed driven to completion whose
  * sink equals the batch answer, plus the state-store readers.
  */
object Streaming extends Family {

  /** Write-once staged copy of the events table for the streaming rows
    * (dirTag discipline): `readStream` needs an explicit schema and the µs
    * normalization only [[Tables.events]] applies. Staged as ONE file
    * deliberately — the file source with maxFilesPerTrigger unset then
    * ingests the whole feed in a single micro-batch, which is the
    * assumption that makes finite-stream == batch-oracle equality
    * watermark-proof: with one batch, no row can arrive more than the
    * watermark delay after a batch that already advanced the watermark,
    * so the inner joins/aggs can never drop late rows the batch oracle
    * keeps.
    */
  private def stagedEvents(s: SparkSession, d: String): String = {
    val staged = s"/tmp/graft_stream/${dirTag(d)}/events"
    stagedOnce(staged) {
      Tables.events(s, d).coalesce(1).write.mode("overwrite").parquet(staged)
    }
    staged
  }

  /** The STREAMING tier as a catalog row: the same tumbling-window
    * aggregate executed as a real Structured Streaming query (micro-batch
    * source → watermark → stateful agg → complete-mode memory sink), run
    * to completion on the finite [[stagedEvents]] input. With all input
    * processed, the final complete-mode table equals the batch aggregate,
    * so the SAME DuckDB oracle that checks [[qEventsWindow]] now also
    * checks a true micro-batch execution end to end.
    */
  private def qStreamAgg(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val staged = stagedEvents(s, d)
    val name = s"graft_stream_agg_$tag"
    // state partitions sized to state volume, not batch shuffle width —
    // see qStreamIntervalJoin
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = EventsPipeline.streamingWindowedAgg(s, staged, name)
      try q.processAllAvailable()
      finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name).orderBy("window_start", "event_type")
  }
  // q_stream_agg: a finite stream processed to completion equals the
  // batch aggregate, so the streaming row shares q_events_window's oracle
  row("q_stream_agg", qStreamAgg)(eventsWindowOracle)

  /** The scale-grade state BACKEND as a catalog row: the [[qStreamAgg]]
    * micro-batch windowed aggregate executed on the RocksDB state store
    * provider instead of the default in-heap HDFS-backed store. At 100 TB
    * the stateful-agg state (watermark-deep windows × key domain) outgrows
    * executor heaps; RocksDB keeps working state on local disk with
    * incremental snapshot checkpointing, turning state size into a disk
    * problem instead of an OOM. local[32] proves the real wiring — native
    * library load, provider lifecycle per state partition, correctness of
    * get/put/commit — under the same finite-input oracle parity contract
    * as [[qStreamAgg]]; 30-minute windows differentiate the oracle from
    * that row's hourly one. Conf is set/restored around the query because
    * the provider is resolved per-query-start from session conf.
    */
  private def qStreamRocksdb(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val staged = stagedEvents(s, d)
    val name = s"graft_stream_rocksdb_$tag"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevPart = s.conf.get("spark.sql.shuffle.partitions")
    val prevProv = s.conf.getOption(provKey)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventsPipeline.streamingWindowedAgg(
        s, staged, name, windowLen = "30 minutes")
      try q.processAllAvailable()
      finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevPart)
      prevProv match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
    s.table(name).orderBy("window_start", "event_type")
  }
  // q_stream_rocksdb: same parity contract as q_stream_agg on the
  // RocksDB state store; 30-minute buckets
  row("q_stream_rocksdb", qStreamRocksdb)(
      """SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT)
        |         AS window_start,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** STATE-STORE READER (Spark 4 state data source): the state of a
    * checkpointed streaming aggregate read back as a BATCH DataFrame —
    * `format("statestore")` over the checkpoint path, no stream replay,
    * no query restart. At 100 TB this is the operational surface state
    * debugging lives on: audit what a long-running job has accumulated
    * (skewed keys, leaked windows, watermark bugs) directly from the
    * checkpoint, while the query keeps running. The staged fixture is a
    * write-once per-corpus checkpoint (a 1-day windowed count+sum driven
    * to completion); the row reads `key.window/key.event_type` and the
    * raw agg BUFFER (`value.count`, `value.sum`) out of the store and
    * must reproduce the batch aggregate exactly — state content, not
    * sink output, is what the oracle checks. `op_ok` additionally pins
    * the `state-metadata` source (operator name + a committed batch), a
    * 1-row driver read. HDFS-backed provider here; the RocksDB rows
    * ([[qStreamRocksdb]]/[[qStreamRestart]]) cover the scale backend —
    * the reader API is provider-agnostic.
    */
  private def qStateReader(s: SparkSession, d: String): DataFrame = {
    val staged = stagedEvents(s, d)
    val tag = dirTag(d)
    val root = s"/tmp/graft_stream/$tag/statesrc"
    val ckpt = s"$root/ckpt"
    stagedOnceGuarded(root)(new java.io.File(root, "_STAGED").exists()) {
      // a root WITHOUT the sentinel is a torn previous staging (the JVM
      // died mid-stream); restart the checkpoint from scratch rather than
      // relying on Spark's recovery over an arbitrarily torn ckpt dir —
      // the delete-and-restage discipline qStreamRestart's fixture uses
      // (ADVICE r14)
      graft.engine.Fs.deleteRecursively(new java.io.File(root))
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = s.readStream
          .schema(EventsPipeline.eventSchema)
          .parquet(staged)
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
          .writeStream
          .outputMode("complete")
          .format("memory")
          .queryName(s"graft_statesrc_$tag")
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_STAGED"), Array.emptyByteArray): Unit
    }
    // The state source's partition readers look up the driver's
    // StateStoreCoordinator RPC endpoint, which only exists once
    // something streaming-side created it — true in the JVM that staged
    // the checkpoint, FALSE in a fresh batch-only session reading the
    // standing artifact (RpcEndpointNotFoundException from loadMap's
    // snapshot-upload report). Touch the manager's lazy coordinator so a
    // checkpoint-only session can read state too.
    org.apache.spark.sql.graftshim.StateCoordinatorShim.ensure(s)
    // 1-row operator-metadata read (driver-side, KB-bounded): the
    // state-metadata source names the stateful operator and its committed
    // batch range — the "which stores exist in this checkpoint" probe an
    // operator audit starts from
    val md = s.read.format("state-metadata").load(ckpt)
      .select("operatorName", "maxBatchId").head()
    val opOk = md.getString(0) == "stateStoreSave" && md.getLong(1) >= 0L
    s.read.format("statestore").load(ckpt)
      .select(
        unix_timestamp(col("key.window.start")).as("window_start"),
        col("key.event_type").as("event_type"),
        col("value.count").as("n_events"),
        round(col("value.sum"), 4).as("sum_value"),
        lit(opOk).as("op_ok"))
      .orderBy("window_start", "event_type")
  }
  // q_state_reader: state content == the batch aggregate; the
  // state-metadata probe asserted as literal TRUE
  row("q_state_reader", qStateReader)(
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT)
        |         AS window_start,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value,
        |       TRUE AS op_ok
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Streaming state REWRITE — checkpoint repartitioning through the
    * state data source (r14 verdict #8: the operational task the Spark 4
    * state source exists for; builds on [[qStateReader]]). An 8-partition
    * stateful query drains the first half of the feed and stops; its
    * state is read back through `format("statestore")`, converted to a
    * typed initial-state Dataset, and handed to a NEW query over the
    * second half running at 16 shuffle partitions — the new query's own
    * hash partitioning redistributes every carried key (the rewrite).
    * Both phases are staged write-once; the catalog row then reads the
    * NEW checkpoint's state (state-in, state-out: the totals come from
    * the 16-partition store, not from a sink) and verifies via
    * `state-metadata` that the partition counts really were 8 → 16.
    * Totals are exact integers (count, Σ cents), oracled against the
    * whole events table — if the carry, the repartition, or the resumed
    * arithmetic dropped anything, the totals split.
    */
  private def qStateRewrite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val srcDir = stagedEventsByTime(s, d)
    val tag = dirTag(d)
    val root = s"/tmp/graft_stream/$tag/staterw"
    val ckptA = s"$root/ckpt8"
    val ckptB = s"$root/ckpt16"
    stagedOnceGuarded(root)(new java.io.File(root, "_STAGED").exists()) {
      // torn previous staging: restart from scratch (qStateReader's
      // delete-and-restage discipline)
      graft.engine.Fs.deleteRecursively(new java.io.File(root))
      val files = new java.io.File(srcDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val (firstHalf, secondHalf) = files.splitAt((files.length + 1) / 2)
      def stage(fs: Array[java.io.File], feed: String): Unit = {
        new java.io.File(feed).mkdirs(): Unit
        fs.foreach(f => java.nio.file.Files.copy(
          f.toPath, new java.io.File(feed, f.getName).toPath): Unit)
      }
      stage(firstHalf, s"$root/feedA")
      stage(secondHalf, s"$root/feedB")
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        EventsPipeline.typeTotalsLifecycle(
          s, s"$root/feedA", ckptA, s"graft_staterw_a_$tag")
        // the REWRITE: old state out of the 8-partition checkpoint …
        org.apache.spark.sql.graftshim.StateCoordinatorShim.ensure(s)
        // mapGroupsWithState's state rides nested under value.groupState
        // (the value row also carries the operator's timeout slot)
        val old = s.read.format("statestore").load(ckptA)
        val keyField = old.select("key.*").schema.fieldNames.head
        val init = old
          .select(col(s"key.$keyField").as("k"),
            col("value.groupState.count").as("count"),
            col("value.groupState.cents").as("cents"))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .mapValues(r => EventsPipeline.TypeAgg(r._2, r._3))
        // … carried into a fresh 16-partition query over the rest
        s.conf.set("spark.sql.shuffle.partitions", "16")
        EventsPipeline.typeTotalsLifecycle(
          s, s"$root/feedB", ckptB, s"graft_staterw_b_$tag", Some(init))
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_STAGED"), Array.emptyByteArray): Unit
    }
    org.apache.spark.sql.graftshim.StateCoordinatorShim.ensure(s)
    def parts(ckpt: String): Long =
      s.read.format("state-metadata").load(ckpt)
        .select(col("numPartitions").cast("long")).head().getLong(0)
    val repartitionedOk = parts(ckptA) == 8L && parts(ckptB) == 16L
    val st = s.read.format("statestore").load(ckptB)
    val keyField = st.select("key.*").schema.fieldNames.head
    st.select(
        col(s"key.$keyField").as("event_type"),
        col("value.groupState.count").as("n_events"),
        col("value.groupState.cents").as("cents"),
        lit(repartitionedOk).as("repartitioned_ok"))
      .orderBy("event_type")
  }
  // q_state_rewrite: totals read from the REPARTITIONED checkpoint's
  // state must equal the whole table's per-type totals — first half
  // carried as initial state, second half processed at 16 partitions
  row("q_state_rewrite", qStateRewrite)(
      """SELECT event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |         AS cents,
        |       TRUE AS repartitioned_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** KILL-AND-RESUME exactly-once (r13 verdict #7; the recovery property
    * `StreamingSpec` asserts, promoted to an oracled catalog row): a
    * RocksDB-checkpointed windowed aggregate is STOPPED MID-FEED and a
    * brand-new query object resumes from the same checkpoint after more
    * data arrives. The feed is a private copy of the 6 time-ordered
    * [[stagedEventsByTime]] files, staged in two installments: phase 1
    * sees only the first half (Trigger.AvailableNow + maxFilesPerTrigger=1
    * drains it as per-file micro-batches, commits offsets + RocksDB state,
    * terminates — the deterministic "kill" point, no polling race);
    * phase 2 drops in the remaining files and starts a NEW query on the
    * same checkpoint — the file-source offset log must skip every
    * already-committed file and the state store must resume, not rebuild.
    * The emitted complete-mode table equals the batch per-day aggregate
    * ONLY under exactly-once: a replayed phase-1 file double-counts state,
    * a dropped file under-counts — either hash-fails the DuckDB
    * differential. `resumed_ok` additionally pins that phase 2's batch ids
    * CONTINUED phase 1's (recovery, not a from-scratch restart). Both
    * phases delete + restage per invocation, so the kill/resume cycle is
    * exercised on every run — that re-staging (a file copy of the KB-scale
    * feed) is the row's declared cost. At 100 TB this is the property that
    * makes streaming ingestion restartable at all: executor/driver loss
    * costs one micro-batch of recomputation, never a double-count.
    */
  private def qStreamRestart(s: SparkSession, d: String): DataFrame = {
    val srcDir = stagedEventsByTime(s, d)
    val tag = dirTag(d)
    val root = s"/tmp/graft_stream/$tag/restart"
    val feed = s"$root/feed"
    graft.engine.Fs.deleteRecursively(new java.io.File(root))
    new java.io.File(feed).mkdirs(): Unit
    val files = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val (firstHalf, rest) = files.splitAt((files.length + 1) / 2)
    def copyIn(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(
        f.toPath, new java.io.File(feed, f.getName).toPath): Unit
    }
    val name = s"graft_stream_restart_$tag"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevPart = s.conf.get("spark.sql.shuffle.partitions")
    val prevProv = s.conf.getOption(provKey)
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // one phase = one query lifecycle: AvailableNow drains what is
    // currently in the feed dir as one micro-batch per file, then
    // terminates — state + offsets live only in the checkpoint between
    // phases (complete-mode memory sink supports checkpoint recovery:
    // the sink table is rebuilt from recovered state)
    def phase(): Long = {
      val q = s.readStream
        .schema(EventsPipeline.eventSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(
          unix_timestamp(col("window.start")).as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    }
    val (lastB1, lastB2) =
      try {
        copyIn(firstHalf)
        val b1 = phase() // the mid-feed kill: offsets+state committed, query gone
        copyIn(rest)
        val b2 = phase() // a NEW query resumes the same checkpoint
        (b1, b2)
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevPart)
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
        prevProv match {
          case Some(v) => s.conf.set(provKey, v)
          case None => s.conf.unset(provKey)
        }
      }
    s.table(name)
      .withColumn("resumed_ok", lit(lastB2 > lastB1 && lastB1 >= 0))
      .orderBy("window_start", "event_type")
  }
  // q_stream_restart: exactly-once across a kill/resume — the final
  // complete-mode table equals the batch per-day aggregate only if no
  // file was replayed or dropped across the checkpoint recovery; the
  // batch-id continuation verdict is asserted as literal TRUE
  row("q_stream_restart", qStreamRestart, Headline)(
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT)
        |         AS window_start,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value,
        |       TRUE AS resumed_ok
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // q_stream_stats: finite stream driven to completion — final
  // flatMapGroupsWithState state equals the batch per-user aggregate
  private val streamStatsOracle: String =
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The stateful-streaming seam as a catalog row: per-user running
    * counters via `flatMapGroupsWithState` (custom state, not windowed
    * agg), driven to completion on the staged finite events copy (same
    * write-once artifact as [[qStreamAgg]]). The memory sink in Update
    * mode may emit one row per user per micro-batch; the final state is
    * selected with `max_by` on the monotonically-growing event counter, so
    * the row is batch-count-independent. With all input processed the
    * final state equals the batch group-by, giving the row a plain DuckDB
    * oracle. State is per-key and hash-partitioned — it scales with user
    * cardinality, never stream length.
    */
  private def qStreamStats(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val staged = stagedEvents(s, d)
    val name = s"graft_stream_stats_$tag"
    // state partitions sized to state volume, not batch shuffle width —
    // see qStreamIntervalJoin
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = EventsPipeline.streamingUserStats(s, staged, name)
      try q.processAllAvailable()
      finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
      .groupBy("user_id")
      .agg(
        max(col("n_events")).as("n_events"),
        max_by(col("sum_value"), col("n_events")).as("sum_value"))
      .orderBy("user_id")
  }
  row("q_stream_stats", qStreamStats)(streamStatsOracle)

  /** Spark 4's `transformWithState` as a catalog row: the same per-user
    * running counters as [[qStreamStats]] executed on the NEW arbitrary-
    * stateful-processing operator ([[graft.streaming.EventsPipeline.UserStatsTwsProcessor]]
    * — typed named ValueState, TTL surface, timers) instead of
    * `flatMapGroupsWithState`. The operator requires the RocksDB state
    * store (set/restored around the query, the [[qStreamRocksdb]]
    * discipline); sharing [[qStreamStats]]'s oracle means any semantic
    * drift between the v1 and v2 stateful APIs is a correctness failure,
    * not a silent difference. State is per-key on disk — scales with user
    * cardinality and spills past heap, never with stream length.
    */
  private def qStreamTws(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val staged = stagedEvents(s, d)
    val name = s"graft_stream_tws_$tag"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevPart = s.conf.get("spark.sql.shuffle.partitions")
    val prevProv = s.conf.getOption(provKey)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventsPipeline.streamingUserStatsTws(s, staged, name)
      try q.processAllAvailable()
      finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevPart)
      prevProv match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
    s.table(name)
      .groupBy("user_id")
      .agg(
        max(col("n_events")).as("n_events"),
        max_by(col("sum_value"), col("n_events")).as("sum_value"))
      .orderBy("user_id")
  }
  // q_stream_tws: transformWithState (v2 API) shares the v1 row's
  // oracle — API drift would surface as a correctness failure
  row("q_stream_tws", qStreamTws)(streamStatsOracle)

  /** Stream-stream LEFT OUTER interval join as a catalog row
    * ([[EventsPipeline.streamingLeftOuterJoin]]): the append-mode outer
    * result — matches plus watermark-released null rows — equals the
    * batch left join EXACTLY because the staged feed carries one
    * far-future sentinel row (type `__wm`, filtered out of both join
    * sides) whose only job is to push the final watermark past every
    * error's join horizon; without it the last watermark-delay's worth
    * of unmatched errors would sit in state forever on a finite feed,
    * which is precisely the semantics this row documents. State on an
    * unbounded feed stays watermark-deep on both sides.
    */
  private def qStreamOuterJoin(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val dir = s"/tmp/graft_stream/$tag/events_wm"
    stagedOnce(dir) {
      val e = Tables.events(s, d)
      // one ERROR and one PURCHASE sentinel on disjoint negative users:
      // each side's watermark operator must see a far-future row of ITS
      // OWN type (see streamingLeftOuterJoin's caveat)
      val sentinels = e.agg(max(col("ts")).as("mts"))
        .select(explode(array(
          struct(lit(-1L).as("event_id"),
            (col("mts") + expr("INTERVAL 10 DAYS")).as("ts"),
            lit(-1L).as("user_id"), lit("error").as("event_type"),
            lit(0.0).as("value"), lit(null).cast("string").as("props")),
          struct(lit(-2L).as("event_id"),
            (col("mts") + expr("INTERVAL 10 DAYS")).as("ts"),
            lit(-2L).as("user_id"), lit("purchase").as("event_type"),
            lit(0.0).as("value"), lit(null).cast("string").as("props"))))
          .as("r"))
        .select(col("r.*"))
      e.unionByName(sentinels).coalesce(1)
        .write.mode("overwrite").parquet(dir)
    }
    val name = s"graft_stream_loj_$tag"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = EventsPipeline.streamingLeftOuterJoin(s, dir, name)
      try q.processAllAvailable()
      finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name).filter(col("eid") >= 0)
      .orderBy(col("eid"), col("p_us").asc_nulls_first)
  }
  // q_stream_outer_join: the batch left interval join; NULLS FIRST
  // pinned (engine defaults disagree)
  row("q_stream_outer_join", qStreamOuterJoin, Headline)(
      """WITH err AS (
        |  SELECT event_id AS eid, user_id AS eu, epoch_us(ts) AS e_us
        |  FROM events WHERE event_type = 'error'
        |), pur AS (
        |  SELECT user_id AS pu, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT eid, e_us, p_us
        |FROM err LEFT JOIN pur
        |  ON eu = pu AND p_us BETWEEN e_us - 3600000000 AND e_us
        |ORDER BY eid, p_us NULLS FIRST""".stripMargin)

  /** Stream-stream INTERVAL join as a driver-gated catalog row: errors
    * joined to the same user's purchases within the preceding hour, both
    * sides watermarked so the state store retains only a bounded horizon
    * (the attribution-window shape). A finite stream driven to completion
    * emits exactly the batch interval join, so the row carries a full
    * DuckDB oracle; timestamps are emitted as epoch MICROSECONDS (exact
    * integers on both engines — epoch seconds would round vs truncate
    * differently on fractional-second timestamps).
    */
  private def qStreamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val staged = stagedEvents(s, d)
    val name = s"graft_stream_ssj_$tag"
    // Size the STATE partitioning explicitly: a stream-stream join keeps
    // four state stores per shuffle partition, and the partition count is
    // pinned into the query's checkpoint at start — it should track state
    // SIZE, not the session's batch shuffle width (32 stores of a few
    // thousand rows each is pure per-batch commit overhead, measured 4x
    // the query's cost; ~40k buffered rows at sf0.1 sit comfortably in 4
    // stores-per-operator). Measured breakdown at sf0.1 (round 7): batch 0
    // — the whole join — 1.0 s; the trailing NO-DATA batch another 0.9 s
    // spent only evicting state that q.stop() discards anyway. An inner
    // stream-stream join emits eagerly, so with the single-file staged
    // source its output is complete after batch 0 and the no-data batch is
    // disabled for this finite drive-to-completion (production unbounded
    // streams keep it on — there it is what bounds state between sparse
    // data arrivals). Both confs restored after the run; the driver
    // executes catalog queries sequentially.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val q = EventsPipeline.streamingPurchaseErrorJoin(s, staged, name)
      try q.processAllAvailable()
      finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    s.table(name)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("e_ts")).as("e_us"),
        unix_micros(col("p_ts")).as("p_us"),
        col("p_value"))
      .orderBy("event_id", "p_us", "p_value")
  }
  // q_stream_interval_join: finite watermarked stream-stream interval
  // join to completion == the batch interval join; epoch MICROSECONDS
  // (exact integers both engines, no round-vs-truncate at fractional
  // seconds)
  row("q_stream_interval_join", qStreamIntervalJoin)(
      """SELECT e.event_id, e.user_id,
        |       epoch_us(e.ts) AS e_us, epoch_us(p.ts) AS p_us,
        |       p.value AS p_value
        |FROM events e JOIN events p
        |  ON e.user_id = p.user_id
        | AND e.event_type = 'error' AND p.event_type = 'purchase'
        | AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
        |ORDER BY e.event_id, p_us, p_value""".stripMargin)

  /** Streaming exact dedup as a driver-gated catalog row: the staged feed
    * is the events table DUPLICATED (every event twice — the at-least-once
    * delivery reality this operator exists for; the raw table's event_ids
    * are unique at every SF, which would make dedup a no-op),
    * `dropDuplicatesWithinWatermark` halves it back to exactly the batch
    * DISTINCT. Duplicate rows are byte-identical, so the kept row is
    * deterministic and the row carries a full-column DuckDB oracle — the
    * strongest check of the family (row CONTENT, not just key counts).
    * State is one row per key within the watermark horizon; partitions
    * sized to state volume and the finite-drive no-data batch skipped,
    * both per [[qStreamIntervalJoin]]'s measured rationale.
    */
  private def qStreamDedup(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val dupStaged = s"/tmp/graft_stream/$tag/events_dup"
    stagedOnce(dupStaged) {
      val e = Tables.events(s, d)
      e.unionAll(e).coalesce(1).write.mode("overwrite").parquet(dupStaged)
    }
    val name = s"graft_stream_dedup_$tag"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val q = EventsPipeline.streamingDedup(s, dupStaged, name)
      try q.processAllAvailable()
      finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    s.table(name)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type"), round(col("value"), 4).as("value"))
      .orderBy("event_id")
  }
  // q_stream_dedup: the staged feed duplicates every event; watermarked
  // streaming dedup to completion == DISTINCT over the original table
  // (duplicates are byte-identical, so full row content is checkable)
  row("q_stream_dedup", qStreamDedup)(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
        |       ROUND(value, 4) AS value
        |FROM events ORDER BY event_id""".stripMargin)

  /** Streaming SESSION windows as a driver-gated catalog row: per-user
    * gap-merged sessions via `session_window` in Append mode — emitted
    * exactly once when the watermark passes a session's end, state evicted
    * (the production dynamic-window shape; see
    * [[EventsPipeline.streamingSessionize]]). The staged feed is the
    * events file followed by two sentinel flush rows with far-future
    * timestamps and strictly later file mtimes; with `maxFilesPerTrigger=1`
    * each sentinel is its own micro-batch, so the watermark advances past
    * every real session's end and the emission happens in the second
    * sentinel's DATA batch — the finite drive never depends on the
    * no-data-batch race. The emitted set then equals the batch gap
    * sessionization, giving the row a full DuckDB oracle (the same
    * lag/cumsum recipe as `q_sessionize`, here at per-session grain with
    * aggregates).
    */
  private def qStreamSessionize(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val dir = s"/tmp/graft_stream/$tag/events_sess"
    // guard on the LAST artifact staged, not _SUCCESS: the parquet write
    // drops _SUCCESS before the sentinels are moved in, and a crash in
    // that window would otherwise leave a half-staged feed that emits
    // nothing (no sentinel → watermark never passes any session's end)
    stagedOnceGuarded(dir)(
      new java.io.File(dir, "zz-sentinel2.parquet").exists()) {
      val e = Tables.events(s, d)
      e.coalesce(1).write.mode("overwrite").parquet(dir)
      val maxUs = e.agg(unix_micros(max(col("ts")))).head().getLong(0)
      val now = System.currentTimeMillis()
      // Two sentinels, one micro-batch each: sentinel 1 advances the
      // watermark past every real session; sentinel 2's batch then EMITS
      // them (Append emission uses the watermark computed at the previous
      // batch's end). Day-scale offsets dwarf the 30-minute gap.
      for (i <- 1 to 2) {
        val sentinelUs = maxUs + i * 86400L * 1000000L
        val tmp = s"$dir-sentinel$i"
        s.sql(
          s"""SELECT CAST(${-i} AS BIGINT) AS event_id,
             |       timestamp_micros(${sentinelUs}L) AS ts,
             |       CAST(-1 AS BIGINT) AS user_id,
             |       'flush' AS event_type, CAST(0.0 AS DOUBLE) AS value,
             |       CAST(NULL AS STRING) AS props""".stripMargin)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val target = new java.io.File(dir, s"zz-sentinel$i.parquet")
        java.nio.file.Files.move(part.toPath, target.toPath)
        graft.engine.Fs.deleteRecursively(new java.io.File(tmp))
        // the file source processes oldest-mtime first; make the order
        // main → sentinel1 → sentinel2 explicit instead of trusting
        // write-timing granularity
        target.setLastModified(now + i * 60000L)
      }
    }
    val name = s"graft_stream_sess_$tag"
    // state partitions sized to state volume (qStreamIntervalJoin's
    // rationale); measured 4 ≈ 8 at sf0.1 (~3.2 s) — the row's cost is the
    // genuine 3-micro-batch session-state execution (ingest + two
    // sentinel-driven emission batches), not partition-commit overhead
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val q = EventsPipeline.streamingSessionize(s, dir, name)
      try q.processAllAvailable()
      finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    s.table(name)
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start_us")
  }
  // q_stream_sessionize: Append-mode session_window driven to full
  // emission == batch gap sessionization at per-session grain (sentinel
  // flush rows are user_id < 0 and filtered; boundary note — Spark
  // starts a new session at ts >= prev+gap, the oracle at ts > prev+gap:
  // they differ only at exact-µs equality, measure-zero on this data)
  row("q_stream_sessionize", qStreamSessionize, Headline)(
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                        + INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM x)
        |SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM y GROUP BY user_id, seq
        |ORDER BY user_id, session_start_us""".stripMargin)

  /** Stream-static enrichment join as a driver-gated catalog row: every
    * micro-batch joins the customer dimension map-side (broadcast — the
    * stream is never shuffled), the standard reference-data join at any
    * scale. Finite stream to completion == the batch left join.
    */
  private def qStreamEnrich(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val staged = stagedEvents(s, d)
    val name = s"graft_stream_enrich_$tag"
    val dim = Tables.customer(s, d).select(
      col("c_custkey").as("user_id"),
      col("c_mktsegment").as("segment"),
      col("c_nationkey").as("nation"))
    val q = EventsPipeline.streamingEnrich(s, staged, dim, name)
    try q.processAllAvailable()
    finally q.stop()
    s.table(name)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("segment"), col("nation"))
      .orderBy("event_id")
  }
  // q_stream_enrich: stream-static broadcast left join to completion ==
  // the batch left join
  row("q_stream_enrich", qStreamEnrich)(
      """SELECT e.event_id, e.user_id, e.event_type,
        |       c.c_mktsegment AS segment, c.c_nationkey AS nation
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin)

  /** Streaming HLL distinct as a catalog row: the per-day approximate
    * user cardinality computed IN the stream
    * ([[EventsPipeline.streamingWindowedDistinct]] — merge-order-
    * independent sketch state, KB per window), audited in-plan against
    * the exact batch distinct — the [[qSketches]] verdict discipline, so
    * the engine-specific sketch value never reaches the oracle, only the
    * exact side plus a literal-TRUE error-bound verdict.
    */
  private def qStreamHll(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val staged = stagedEvents(s, d)
    val name = s"graft_stream_hll_$tag"
    // state partitions sized to state volume, not batch shuffle width —
    // see qStreamIntervalJoin
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = EventsPipeline.streamingWindowedDistinct(s, staged, name)
      try q.processAllAvailable()
      finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    val exact = Tables.events(s, d)
      .select((floor(unix_micros(col("ts")) / 86400000000L) * 86400L)
        .as("window_start"), col("user_id"))
      .distinct()
      .groupBy("window_start").agg(count(lit(1)).as("exact_users"))
    s.table(name)
      .join(exact, "window_start")
      .select(col("window_start"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * 0.15).as("hll_ok"))
      .orderBy("window_start")
  }
  row("q_stream_hll", qStreamHll)(
      """WITH w AS (
        |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS window_start,
        |         user_id
        |  FROM events)
        |SELECT window_start,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       TRUE AS hll_ok
        |FROM w GROUP BY window_start ORDER BY window_start""".stripMargin)

  /** Write-once staged TIME-ORDERED multi-file feed: the events table
    * split into 6 contiguous time ranges, one file per range with
    * strictly ascending mtimes, so `maxFilesPerTrigger=1` replays the
    * month as 6 micro-batches whose watermark advances monotonically —
    * the harness that makes watermark EVICTION observable
    * ([[qStreamEvict]]). Range boundaries cut mid-day at worst: a
    * window's last rows always arrive before the watermark (max seen ts
    * − 2 h, necessarily inside that same window or earlier) can pass the
    * window's END, so no upserted window is ever incomplete and the
    * final sink equals the batch aggregate exactly.
    */
  private def stagedEventsByTime(s: SparkSession, d: String): String = {
    val dir = s"/tmp/graft_stream/${dirTag(d)}/events_bytime"
    // guard on the marker written LAST: the directory is hand-assembled
    // file by file, so no parquet _SUCCESS covers the whole feed
    stagedOnceGuarded(dir)(new java.io.File(dir, "_STAGED").exists()) {
      val e = Tables.events(s, d)
      val mm = e.agg(unix_micros(min(col("ts"))).as("a"),
        unix_micros(max(col("ts"))).as("b")).head()
      val (minUs, span) = (mm.getLong(0), (mm.getLong(1) - mm.getLong(0)) / 6 + 1)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir)): Unit
      val now = System.currentTimeMillis()
      // ONE pass: partitionBy(bucket) writes all 6 range files in a single
      // scan (the per-bucket filter loop this replaces re-read the source
      // 6 times); partition values live in directory names, so the moved
      // files keep the plain event schema the stream reader expects
      val tmp = s"$dir-staging"
      e.withColumn("bucket",
          ((unix_micros(col("ts")) - lit(minUs)) / lit(span)).cast("long"))
        .repartition(1)
        .write.partitionBy("bucket").mode("overwrite").parquet(tmp)
      for (b <- 0 until 6) {
        val bucketDir = new java.io.File(tmp, s"bucket=$b")
        val part = Option(bucketDir.listFiles())
          .flatMap(_.find(_.getName.endsWith(".parquet")))
        part.foreach { p => // an empty range writes no dir; skip it
          val target = new java.io.File(dir, f"part-$b%02d.parquet")
          java.nio.file.Files.move(p.toPath, target.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
          target.setLastModified(now + b * 60000L): Unit
        }
      }
      graft.engine.Fs.deleteRecursively(new java.io.File(tmp))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_STAGED"), Array.emptyByteArray): Unit
    }
    dir
  }

  /** Streaming day-window distinct in UPDATE mode with watermark eviction
    * EXECUTED (r10 verdict #5; [[EventsPipeline
    * .streamingWindowedDistinctUpdate]]): the [[stagedEventsByTime]] feed
    * replays as 6 time-ordered micro-batches, the watermark advances
    * between them, closed windows are evicted from state, and every
    * emission lands in the idempotent window_start-keyed upsert sink. The
    * row emits the final upserted per-window state — n_events is exact
    * content (the strongest check), approx_users rides the same ±15%
    * bound verdict as [[qStreamHll]] — plus `evicted_ok`: the final
    * progress's state-row count is at most a THIRD of the window count
    * (measured ~6 of 30: only the last ~5 days stay in state). The
    * complete-mode variant necessarily retains all 30 windows, so the
    * floor separates the two modes and fails if eviction regresses.
    */
  private def qStreamEvict(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = stagedEventsByTime(s, d)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val (sink, stateRows) =
      try {
        val (m, q) = EventsPipeline.streamingWindowedDistinctUpdate(s, staged)
        try {
          q.processAllAvailable()
          (m, q.lastProgress.stateOperators.head.numRowsTotal)
        } finally q.stop()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      }
    import scala.jdk.CollectionConverters._
    val rows = sink.asScala.toSeq.map { case (ws, (au, ne)) => (ws, au, ne) }
    val evicted = stateRows * 3 <= rows.size
    val exact = Tables.events(s, d)
      .select((floor(unix_micros(col("ts")) / 86400000000L) * 86400L)
        .as("window_start"), col("user_id"))
      .distinct()
      .groupBy("window_start").agg(count(lit(1)).as("exact_users"))
    rows.toDF("window_start", "approx_users", "n_events")
      .join(exact, "window_start")
      .select(col("window_start"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * 0.15).as("hll_ok"),
        lit(evicted).as("evicted_ok"))
      .orderBy("window_start")
  }
  // q_stream_hll: UTC-day window start as integer epoch; exact side
  // recomputed, sketch asserted as the literal-TRUE bound verdict
  // q_stream_evict: same exact side as q_stream_hll; the sketch bound
  // AND the state-eviction floor are asserted as literal-TRUE verdicts
  row("q_stream_evict", qStreamEvict, Headline)(
      """WITH w AS (
        |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS window_start,
        |         user_id
        |  FROM events)
        |SELECT window_start,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       TRUE AS hll_ok, TRUE AS evicted_ok
        |FROM w GROUP BY window_start ORDER BY window_start""".stripMargin)
}
