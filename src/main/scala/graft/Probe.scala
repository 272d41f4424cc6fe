package graft

import java.io.PrintStream
import java.util.concurrent.atomic.AtomicReference

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.graftshim.ListenerBusShim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.bench.MetricsListener
import graft.engine.GraftSession
import graft.operators.{PositionalTake, Relational}

/** Diagnostic probe over the catalog and the reference operator shapes —
  * the questions the contract mains (`Verify`, `Bench`) and the external
  * benchmark (`graftbench`) do not answer: which plan a row gets, what a
  * row outputs and where its task time goes, and how the operator
  * variants the benchmark does not run compare on one shape.
  *
  * {{{
  * runMain graft.Probe plan <sfDir> [name ...]   static formatted plans
  * runMain graft.Probe run  <sfDir> [name ...]   execute; out_rows, final plan
  * runMain graft.Probe ops  <join|take|spj> [sf] [iters]
  * }}}
  * No names = every catalog row. `ops` defaults: sf 4, 3 iterations.
  *
  * Every record is one JSON line `{"name":...}`; `run` and `ops` attach the
  * `MetricsListener` delta of the measured execution (the per-phase counter
  * analog of the reference's `host/timer/timer.h`) under `"metrics"`.
  * Streaming micro-batch progress lines carry a `[stream] ` prefix. The
  * exit status is 1 when any row fails or any leg's `out_rows` differs
  * from its closed-form count.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe plan|run <sfDir> [name ...] | Probe ops <join|take|spj> [sf] [iters]"
    require(args.length >= 2, usage)
    lazy val rows =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.getOrCreate()
    val failures =
      try args(0) match {
        case "plan" => plan(spark, System.out, args(1), rows)
        case "run" => run(spark, System.out, args(1), rows)
        case "ops" => ops(spark, System.out, args(1),
          args.lift(2).fold(4)(_.toInt), args.lift(3).fold(3)(_.toInt))
        case _ => throw new IllegalArgumentException(usage)
      } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** Prints each row's static formatted plan (`ReadSchema`,
    * `PushedFilters`, join strategies, codegen spans). Returns the number
    * of rows that failed to build.
    */
  def plan(spark: SparkSession, out: PrintStream, dir: String, rows: Seq[String]): Int =
    rows.count { n =>
      attempt(out, n) {
        val df = SparkEntry.queries(n)(spark, dir)
        out.println(json("name" -> n))
        out.println(df.queryExecution.explainString(FormattedMode))
      }
    }

  /** Builds and executes each row once, printing its output row count,
    * seconds (build included: streaming rows run their stream inside the
    * build) and counters, then the FINAL adaptive plan — under AQE,
    * exchange reuse, broadcast demotion and skew splits exist only there.
    * The row's own QueryExecution is driven (`toRdd`), not a separate
    * write, so that plan is the one that ran. Micro-batches of any stream
    * the row starts print as `[stream]` lines, attributed to the row.
    * Returns the number of rows that failed.
    */
  def run(spark: SparkSession, out: PrintStream, dir: String, rows: Seq[String]): Int = {
    val current = new AtomicReference("")
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val state = Option(p.stateOperators).getOrElse(Array.empty)
        out.println("[stream] " + json(
          "name" -> current.get, "stream" -> p.name,
          "batch" -> p.batchId, "input_rows" -> p.numInputRows,
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "state_updated" -> state.map(_.numRowsUpdated).sum,
          "duration_ms" -> new java.util.TreeMap(p.durationMs)))
      }
    }
    spark.streams.addListener(streams)
    try withMetrics(spark) { listener =>
      rows.count { n =>
        current.set(n)
        attempt(out, n) {
          var df: DataFrame = null
          val m = measure(spark, listener, iters = 1, warmups = 0) {
            df = SparkEntry.queries(n)(spark, dir)
            df.queryExecution.toRdd.count()
          }
          out.println(json("name" -> n, "out_rows" -> m.rows, "sec" -> m.sec,
            "metrics" -> m.metrics))
          out.println(df.queryExecution.executedPlan.toString)
        }
      }
    } finally spark.streams.removeListener(streams)
  }

  /** Operator legs on the reference's uint32 shapes (BASELINE.md) that the
    * benchmark's `ref_ops` workload does not run — its filter, sum, merge
    * take, hash partition and sort-merge join are measured and answer-
    * checked there. Each leg runs two untimed warm-ups, then `iters`
    * measured executions, and reports the fastest with its counters and
    * the join operator of its final plan (null if none). Returns the
    * number of legs that failed or whose `out_rows` differs from the
    * closed-form count.
    *
    *  - `take` (SF × 4Mi values, every 8th index): `take_join` gathers
    *    through a broadcast hash join, `take_merge_dist` through a range-
    *    shuffled per-partition merge, the gather that keeps scaling past
    *    the broadcast knee. Both pin one physical plan, so the warm-up
    *    builds the broadcast relation and index shuffle once and the
    *    measured runs only gather. n/8 rows.
    *  - `join` (SF × 2Mi rows per side, PK–FK inner): sort-merge under AQE
    *    (the session default), once first and once last so host drift over
    *    the run shows; the sized-partition guarded shuffled-hash join
    *    ([[Relational.boundedHashJoin]]); a bare SHUFFLE_HASH hint; and
    *    co-located inputs, repartitioned and sorted on the key before
    *    caching, which merge with no exchange and no sort (the bucketed
    *    table shape in memory). n rows.
    *  - `spj` (SF × 8Mi fact rows ⋈ a 7-row dim on mod7, `SeqSource`):
    *    storage-partitioned (`spj_keyed`, no exchange), undeclared layout
    *    with a forced merge (`spj_shuffle`), broadcast dim
    *    (`spj_broadcast`), and the layout declared at 32 buckets
    *    (`spj_keyed32`): SPJ parallelism is the layout's bucket count, so
    *    re-bucketing the write, not adding cores, widens the scan. n rows.
    */
  def ops(spark: SparkSession, out: PrintStream, group: String, sf: Int, iters: Int): Int = {
    import spark.implicits._
    def u32(c: Column) = pmod(xxhash64(c), lit(4294967296L))
    val inputs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cached(df: DataFrame): DataFrame = {
      val c = df.cache()
      c.count()
      inputs += c
      c
    }
    try withMetrics(spark) { listener =>
      // `df` is by-name: a leg that passes a fresh join expression plans
      // (and shuffles) anew every iteration; one that passes a val re-runs
      // the same pinned plan. True when the leg failed.
      def leg(name: String, n: Long, expected: Long)(df: => DataFrame): Boolean =
        attempt(out, name) {
          var last: DataFrame = null
          val m = measure(spark, listener, iters, warmups = 2) {
            last = df
            last.queryExecution.toRdd.count()
          }
          val join = new AdaptiveSparkPlanHelper {}
            .collectFirst(last.queryExecution.executedPlan) { case j: BaseJoinExec => j.nodeName }
          out.println(json("name" -> name, "sf" -> sf, "rows" -> n, "sec" -> m.sec,
            "items_per_sec" -> (n / m.sec).round, "out_rows" -> m.rows, "expected_rows" -> expected,
            "join" -> join, "metrics" -> m.metrics))
          require(m.rows == expected, s"out_rows ${m.rows} != closed-form $expected")
        }
      group match {
        case "take" =>
          val n = sf.toLong * 4194304
          val values = cached(spark.range(n).select($"id".as("idx"), u32($"id").as("v")))
          val idx = cached(spark.range(0, n, 8).select($"id".as("idx")))
          val byJoin = values.join(broadcast(idx), "idx")
          val byMerge = PositionalTake.mergeTakeDist(values, idx, "idx")
          Seq(leg("take_join", n, n / 8)(byJoin), leg("take_merge_dist", n, n / 8)(byMerge))
        case "join" =>
          val n = sf.toLong * 2097152
          def pk = spark.range(n).select($"id".as("pk"), u32($"id").as("x"))
          def fk = spark.range(n)
            .select(pmod(xxhash64($"id", lit(7)), lit(n)).as("fk"), u32($"id").as("y"))
          val right = cached(pk)
          val left = cached(fk)
          def smj = left.join(right.hint("MERGE"), $"fk" === $"pk", "inner")
          val legs = Seq(
            leg("smj", n, n)(smj),
            leg("shj_guarded", n, n)(Relational.boundedHashJoin(left, right, "fk", "pk")),
            leg("shj_hint", n, n)(left.join(right.hint("SHUFFLE_HASH"), $"fk" === $"pk", "inner")),
            leg("smj_end", n, n)(smj))
          val rightCo = cached(pk.repartition(32, $"pk").sortWithinPartitions($"pk"))
          val leftCo = cached(fk.repartition(32, $"fk").sortWithinPartitions($"fk"))
          legs :+ leg("colocated", n, n)(leftCo.join(rightCo.hint("MERGE"), $"fk" === $"pk", "inner"))
        case "spj" =>
          val n = sf.toLong * 8388608
          def seq(rows: Long, keyed: Boolean, buckets: Int = 7) = spark.read
            .format("graft.sources.v2.SeqSource")
            .option("n", rows).option("slices", 32).option("keyed", keyed)
            .option("buckets", buckets).load()
          // keyed legs need spark.sql.sources.v2.bucketing.enabled (Spark's default)
          val dimK = seq(7, keyed = true).select($"mod7", $"cents".as("dc"))
          val dimU = seq(7, keyed = false).select($"mod7", $"cents".as("dc"))
          val dim32 = seq(32, keyed = true, buckets = 32).select($"mod32", $"cents".as("dc"))
          Seq(
            leg("spj_keyed", n, n)(seq(n, keyed = true).join(dimK.hint("MERGE"), "mod7")),
            leg("spj_shuffle", n, n)(seq(n, keyed = false).join(dimU.hint("MERGE"), "mod7")),
            leg("spj_broadcast", n, n)(seq(n, keyed = false).join(broadcast(dimU), "mod7")),
            leg("spj_keyed32", n, n)(
              seq(n, keyed = true, buckets = 32).join(dim32.hint("MERGE"), "mod32")))
        case other =>
          throw new IllegalArgumentException(s"ops: unknown group '$other' (join|take|spj)")
      }
    }.count(failed => failed)
    finally inputs.foreach(_.unpersist(blocking = true))
  }

  private final case class Measured(sec: Double, rows: Long, metrics: ListMap[String, Any])

  /** The one timing loop: `warmups` untimed runs and a GC quiesce, then
    * `iters` timed runs; returns the fastest with its counter delta. The
    * listener bus is drained after each run, outside the timed region, so
    * a late TaskEnd (or streaming progress) event is charged to the run
    * that caused it, and nothing is still queued when the caller stops the
    * session.
    */
  private def measure(spark: SparkSession, listener: MetricsListener, iters: Int, warmups: Int)(
      f: => Long): Measured = {
    (1 to warmups).foreach(_ => f)
    if (warmups > 0) System.gc()
    (1 to iters).map { _ =>
      val before = listener.snapshot()
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBusShim.drain(spark.sparkContext, timeoutMillis = 10000)
      val d = listener.snapshot() - before
      Measured(sec, rows, ListMap.from(d.productElementNames.zip(d.productIterator)))
    }.minBy(_.sec)
  }

  private def withMetrics[T](spark: SparkSession)(body: MetricsListener => T): T = {
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try body(listener) finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body`; an exception prints an error line for `name`. Returns
    * true when the item failed.
    */
  private def attempt(out: PrintStream, name: String)(body: => Unit): Boolean =
    try { body; false }
    catch { case NonFatal(e) =>
      out.println(json("name" -> name, "error" -> e.getMessage))
      true
    }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON object line; nested objects are `ListMap`s (field order kept). */
  private def json(fields: (String, Any)*): String =
    mapper.writeValueAsString(ListMap(fields: _*))
}
