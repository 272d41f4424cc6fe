package graft

import graft.catalog.Support.withConf
import graft.sources.Tables
import graft.streaming.EventsPipeline

/** Structured Streaming path: the streaming windowed aggregation over the
  * events table must agree with its batch twin (used by the q_events_window
  * oracle query).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  // Staged ONCE for the whole suite: readStream needs an explicit schema
  // and µs timestamps (Tables.events normalizes the nanos parquet), and
  // the streams only READ these directories (checkpoints and sinks live
  // elsewhere) — re-staging the identical table per test was pure I/O.
  private lazy val stagedEvents: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    Tables.events(spark, sf0001).write.mode("overwrite").parquet(dir)
    dir
  }
  // the dedup tests read a doubled feed (every event twice)
  private lazy val stagedDoubledEvents: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_x2").toString
    val ev = Tables.events(spark, sf0001)
    ev.unionAll(ev).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming windowed agg converges to the batch result") {
    val q = EventsPipeline.streamingWindowedAgg(spark, stagedEvents, "stream_out")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_out")
        .select("window_start", "event_type", "n_events", "sum_value")
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = EventsPipeline.windowedAgg(Tables.events(spark, sf0001))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming windowed agg resumes from checkpoint across a restart") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions._
    val all = Tables.events(spark, sf0001)
    val feed = Files.createTempDirectory("graft_ckpt_feed").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val stage = Files.createTempDirectory("graft_ckpt_stage").toString
    all.filter(dayofmonth($"ts") <= 15).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/h1")
    all.filter(dayofmonth($"ts") > 15).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/h2")
    def addFile(src: String, dst: String): Unit = {
      val f = new java.io.File(src).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(f.toPath, Paths.get(feed, dst),
        StandardCopyOption.REPLACE_EXISTING): Unit
    }
    def run(): Unit = {
      val q = spark.readStream.schema(EventsPipeline.eventSchema).parquet(feed)
        .withWatermark("ts", "2 hours")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"))
        .select(unix_timestamp($"window.start").as("ws"), $"event_type",
          $"n_events")
        .writeStream.outputMode("complete").format("memory")
        .queryName("ckpt_out").option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    // first incarnation sees only the first half of the feed
    addFile(s"$stage/h1", "f1.parquet")
    run()
    val mid = spark.table("ckpt_out").as[(Long, String, Long)].collect()
      .map { case (ws, et, n) => (ws, et) -> n }.toMap
    // restart from the SAME checkpoint with the second half added: the
    // file-source log must skip f1 (exactly-once) and the recovered agg
    // state must still carry its counts — a failure either way diverges
    // from the batch aggregate
    addFile(s"$stage/h2", "f2.parquet")
    run()
    val streamed = spark.table("ckpt_out")
      .as[(Long, String, Long)].collect()
      .map { case (ws, et, n) => (ws, et) -> n }.toMap
    val batch = EventsPipeline.windowedAgg(all)
      .select($"window_start", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect()
      .map { case (ws, et, n) => (ws, et) -> n }.toMap
    assert(mid.nonEmpty && mid.size < batch.size, "first run was not partial")
    assert(streamed == batch)
  }

  test("windowed agg on the RocksDB state store matches batch and engages RocksDB") {
    import scala.jdk.CollectionConverters._
    withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = EventsPipeline.streamingWindowedAgg(spark, stagedEvents, "rocks_out")
      try {
        q.processAllAvailable()
        val streamed = spark.table("rocks_out")
          .select("window_start", "event_type", "n_events", "sum_value")
          .as[(Long, String, Long, Double)].collect().toSet
        val batch = EventsPipeline.windowedAgg(Tables.events(spark, sf0001))
          .as[(Long, String, Long, Double)].collect().toSet
        assert(streamed == batch)
        assert(batch.nonEmpty)
        // the provider must REALLY be RocksDB, not a silent fallback to the
        // in-heap default: RocksDB's state operator reports provider-specific
        // custom metrics in the progress events
        assert(q.recentProgress.exists(_.stateOperators.exists(
            _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))),
          "no rocksdb* custom metrics in stateOperators progress")
      } finally q.stop()
    }
  }

  test("append-mode windowed agg with watermark emits only finalized windows") {
    import org.apache.spark.sql.functions._
    val staged = stagedEvents
    val events = Tables.events(spark, sf0001)
    val stream = spark.readStream
      .schema(EventsPipeline.eventSchema)
      .parquet(staged)
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp($"window.start").as("ws"), $"event_type", $"n_events")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("wm_out")
        .as[(Long, String, Long)].collect()
      // watermark = max(ts) - 2h after the first batch; only windows whose
      // END is at/before it are finalized and emitted
      val maxTs = events.agg(max(unix_timestamp($"ts"))).as[Long].head()
      val wm = maxTs - 2 * 3600
      assert(emitted.nonEmpty)
      assert(emitted.forall { case (ws, _, _) => ws + 3600 <= wm })
      // every emitted (window, type) count matches the batch computation
      val batch = events
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp($"window.start").as("ws"), $"event_type", $"n")
        .as[(Long, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      emitted.foreach { case (ws, et, n) => assert(batch((ws, et)) == n) }
    } finally q.stop()
  }

  test("stateful flatMapGroupsWithState: per-user totals match batch groupBy") {
    import org.apache.spark.sql.functions._
    val q = EventsPipeline.streamingUserStats(spark, stagedEvents, "user_stats_out")
    try {
      q.processAllAvailable()
      // update-mode memory sink: last row per user is the final state
      val streamed = spark.table("user_stats_out")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"sum_value")).as("s"))
        .select($"user_id", $"s.n_events", $"s.sum_value")
        .as[(Long, Long, Double)].collect().toSet
      val batch = Tables.events(spark, sf0001)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"value").as("s"))
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed.map(t => (t._1, t._2)) == batch.map(t => (t._1, t._2)))
      // and the SUMS match too (the old projection dropped them — a broken
      // accumulator would have passed). Tolerance covers the streaming
      // side's 4-decimal rint plus double fold-order slack.
      val batchSums = batch.map(t => t._1 -> t._3).toMap
      streamed.foreach { case (u, _, s) =>
        assert(math.abs(s - batchSums(u)) < 2e-4,
          s"user $u: streamed sum $s vs batch ${batchSums(u)}")
      }
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-static broadcast join enriches every event without losing rows") {
    import org.apache.spark.sql.functions._
    val staged = stagedEvents
    val events = Tables.events(spark, sf0001)
    val dim = events.select($"user_id").distinct()
      .withColumn("segment", pmod($"user_id", lit(3)).cast("int"))
    val q = EventsPipeline.streamingEnrich(spark, staged, dim, "enriched_out")
    try {
      q.processAllAvailable()
      val out = spark.table("enriched_out")
      assert(out.count() == events.count())
      // every event found its dim row (left join produced no null segments)
      assert(out.filter($"segment".isNull).count() == 0)
      // enrichment is correct, not just present
      assert(out.filter($"segment" =!= pmod($"user_id", lit(3)).cast("int")).count() == 0)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    import org.apache.spark.sql.functions._
    val staged = stagedEvents
    val events = Tables.events(spark, sf0001)
    val q = EventsPipeline.streamingPurchaseErrorJoin(spark, staged, "ssj_out")
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .select($"event_id", $"p_ts", $"p_value")
        .as[(Long, java.sql.Timestamp, Double)].collect().toSet
      val p = events.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"value".as("p_value"))
      val e = events.filter($"event_type" === "error")
        .select($"user_id".as("e_user"), $"ts".as("e_ts"), $"event_id")
      val batch = e.join(p,
          expr("e_user = p_user AND e_ts >= p_ts AND e_ts <= p_ts + INTERVAL 1 HOUR"))
        .select($"event_id", $"p_ts", $"p_value")
        .as[(Long, java.sql.Timestamp, Double)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates within watermark removes repeats") {
    import org.apache.spark.sql.functions._
    val staged = stagedDoubledEvents
    val ev = Tables.events(spark, sf0001)
    val q = spark.readStream
      .schema(EventsPipeline.eventSchema)
      .parquet(staged)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
      .groupBy()
      .count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_out").as[Long].head()
      assert(n == ev.count()) // each duplicate pair collapsed to one
    } finally q.stop()
  }

  test("streamingDedup: bounded-state dedup emits each event_id once") {
    val ev = Tables.events(spark, sf0001)
    val q = EventsPipeline.streamingDedup(
      spark, stagedDoubledEvents, "dedup2_out", watermark = "1 hour")
    try {
      q.processAllAvailable()
      val out = spark.table("dedup2_out")
      val distinctIds = ev.select($"event_id").distinct().count()
      assert(out.count() == distinctIds)
      assert(out.select($"event_id").distinct().count() == distinctIds)
    } finally q.stop()
  }

  test("q_stream_dedup catalog row: doubled feed dedups to exactly the batch distinct") {
    val rows = SparkEntry.queries("q_stream_dedup")(spark, sf0001)
    val ev = Tables.events(spark, sf0001)
    assert(rows.count() == ev.count(), "dedup did not halve the doubled feed")
    assert(rows.select($"event_id").distinct().count() == ev.count())
  }

  test("q_stream_sessionize catalog row: emitted sessions equal batch gap sessionization") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_stream_sessionize")(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = EventsPipeline.sessionize(Tables.events(spark, sf0001))
      .groupBy($"user_id", $"session_seq")
      .agg(unix_micros(min($"ts")).as("session_start_us"),
        count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"))
      .select($"user_id", $"session_start_us", $"n_events", $"sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(want.nonEmpty)
    assert(got == want, "append-mode session_window drive != batch gap sessions")
  }

  test("q_stream_evict catalog row: update-mode upsert equals batch, state evicted") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_stream_evict")(spark, sf0001).collect()
    assert(rows.length == 30, s"expected the 30 day windows, got ${rows.length}")
    // both in-plan verdicts hold: the sketch bound AND the eviction floor
    // (final state rows <= 1/3 of the windows — complete mode holds all 30)
    assert(rows.forall(r => r.getBoolean(3) && r.getBoolean(4)),
      "hll_ok/evicted_ok verdict false at sf0.001")
    // the idempotent upsert's final content equals the batch aggregate
    val batch = Tables.events(spark, sf0001)
      .groupBy((floor(unix_micros(col("ts")) / 86400000000L) * 86400L).as("ws"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(rows.forall(r => batch(r.getLong(0)) == r.getLong(2)),
      "final upserted n_events diverges from the batch day counts")
  }

  test("q_dsv2_stream: admission control bounds every micro-batch, offsets advance monotonically") {
    import org.apache.spark.sql.functions._
    // the connector's MICRO_BATCH_READ half, driven directly so the
    // lifecycle is observable: 210k rows through a 50k-row admission
    // limit must take >= 5 batches, each within the limit, with strictly
    // increasing checkpointed positions
    val q = spark.readStream.format("graft.sources.v2.SeqSource")
      .option("n", 210000L).option("slices", 8)
      .option("maxRowsPerBatch", 50000L)
      .load()
      .groupBy(col("mod7"))
      .agg(count(lit(1)).as("n_rows"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_dsv2_stream_spec")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    assert(prog.length >= 5, s"expected >=5 micro-batches, got ${prog.length}")
    assert(prog.forall(_.numInputRows <= 50000L),
      prog.map(_.numInputRows).mkString(","))
    val positions = q.recentProgress.toSeq.flatMap(p =>
      p.sources.headOption.flatMap(s => Option(s.endOffset)).map(o =>
        """"pos":(\d+)""".r.findFirstMatchIn(o).get.group(1).toLong))
    assert(positions == positions.sorted && positions.distinct == positions,
      positions.mkString(","))
    assert(positions.lastOption.contains(210000L), positions.mkString(","))
    // the streamed aggregate equals the batch answer over the same domain
    val streamed = spark.table("graft_dsv2_stream_spec")
      .as[(Long, Long)].collect().toMap
    val batch = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", 210000L).load()
      .groupBy(col("mod7")).agg(count(lit(1)).as("n_rows"))
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("sessionization: session count bounded by event count, monotone seq") {
    val s = EventsPipeline.sessionize(Tables.events(spark, sf0001))
    val bad = s.filter($"session_seq" < 1).count()
    assert(bad == 0)
    val perUser = s.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.max($"session_seq").as("ns"),
        org.apache.spark.sql.functions.count($"event_id").as("ne"))
      .filter($"ns" > $"ne").count()
    assert(perUser == 0)
  }
}
