package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects Spark's public listener events, keyed by the operation that
  * was running when they were delivered. The harness drains the listener
  * bus after each operation, so every event an operation caused is
  * delivered before the next operation starts.
  *
  * Everything is held in memory and handed out as plain maps when the run
  * ends; nothing here touches the program under test.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var op: Int = -1

  private val counters = mutable.Map.empty[(Int, String), Double]
  private val maxima = mutable.Map.empty[(Int, String), Double]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stageOfJob = mutable.Map.empty[Int, Int]
  private val ids = new java.util.concurrent.atomic.AtomicInteger

  private def add(k: String, v: Double): Unit = synchronized {
    counters((op, k)) = counters.getOrElse((op, k), 0.0) + v
  }
  private def max(k: String, v: Double): Unit = synchronized {
    maxima((op, k)) = math.max(maxima.getOrElse((op, k), 0.0), v)
  }
  private def span(m: Map[String, Any]): Unit = synchronized { spans += m + ("op" -> op) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(s => stageOfJob(s) = e.jobId)
    add("jobs.count", 1)
    span(Map("id" -> s"job${e.jobId}", "name" -> "job", "start" -> e.time.toDouble,
      "container" -> true))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = spans.lastIndexWhere(_("id") == s"job${e.jobId}")
    if (i >= 0) spans(i) = spans(i) + ("end" -> e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    add("jobs.stages", 1)
    for (s <- info.submissionTime; c <- info.completionTime)
      span(Map("id" -> s"stage${info.stageId}.${info.attemptNumber()}", "name" -> "stage",
        "start" -> s.toDouble, "end" -> c.toDouble,
        "parent" -> stageOfJob.get(info.stageId).map(j => s"job$j").orNull))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    add("jobs.task_attempts", 1)
    if (!info.successful) add("jobs.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_ms", m.executorRunTime.toDouble)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      max("exec.peak_mem_mb", m.peakExecutionMemory / 1e6)
      add("sources.records_read", m.inputMetrics.recordsRead.toDouble)
      add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("sources.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      add("sources.records_written", m.outputMetrics.recordsWritten.toDouble)
      add("exchange.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("exchange.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult
      add("jobs.sched_delay_ms", math.max(0L, delay).toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => add("planning.aqe_updates", 1)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    onQuery(qe)

  private def onQuery(qe: QueryExecution): Unit = {
    val names = Map("analysis" -> "planning.analysis", "optimization" -> "planning.optimization",
      "planning" -> "planning.physical")
    qe.tracker.phases.foreach { case (phase, s) =>
      names.get(phase).foreach { n =>
        add(s"${n}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
        span(Map("id" -> s"$n.${ids.incrementAndGet()}", "name" -> n,
          "start" -> s.startTimeMs.toDouble, "end" -> s.endTimeMs.toDouble))
      }
    }
    val plan = qe.executedPlan
    val byClass = Recorder.operatorMetrics(plan)
    byClass.foreach { case (k, v) => add(k, v) }
    synchronized { plans += Map("op" -> op, "fingerprint" -> Recorder.fingerprint(plan)) }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.add_batch_ms", d("addBatch"))
      add("streaming.planning_ms", d("queryPlanning"))
      add("streaming.commit_ms", d("walCommit") + d("commitOffsets"))
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      span(Map("id" -> s"batch${p.id}.${p.batchId}", "name" -> "streaming.batch",
        "start" -> start, "end" -> (start + d("triggerExecution")), "container" -> true))
    }
  }

  /** Records the harness's own spans (operation, build, action). */
  def harnessSpan(id: String, name: String, start: Double, end: Double,
      parent: String): Unit =
    span(Map("id" -> id, "name" -> name, "start" -> start, "end" -> end,
      "parent" -> parent, "container" -> true, "root" -> (parent == null)))

  def counter(k: String, v: Double): Unit = add(k, v)

  def dump(): Map[String, Any] = synchronized {
    def perOp(m: mutable.Map[(Int, String), Double]) =
      m.groupBy(_._1._1).map { case (o, kv) => o.toString -> kv.map { case ((_, k), v) => k -> v }.toMap }
    Map("counters" -> perOp(counters), "maxima" -> perOp(maxima),
      "spans" -> spans.toList, "plans" -> plans.toList)
  }
}

object Recorder extends AdaptiveSparkPlanHelper {

  /** Operator-class time from the executed plan's SQL metrics, in ms. */
  def operatorMetrics(plan: SparkPlan): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def ms(p: SparkPlan, key: String): Double = p.metrics.get(key) match {
      case Some(m) if m.metricType == "nsTiming" => m.value / 1e6
      case Some(m) => m.value.toDouble
      case None => 0.0
    }
    collectWithSubqueries(plan) { case p => p }.foreach { p =>
      p.nodeName match {
        case n if n.startsWith("Scan") || n.contains("Scan ") || n == "InMemoryTableScan" ||
            n.startsWith("BatchScan") =>
          out("op.scan_ms") += ms(p, "scanTime")
          if (n == "InMemoryTableScan") out("cache.scans") += 1
        case "Sort" => out("op.sort_ms") += ms(p, "sortTime")
        case "HashAggregate" | "ObjectHashAggregate" | "SortAggregate" =>
          out("op.agg_ms") += ms(p, "aggTime")
        case "ShuffledHashJoin" => out("op.join_build_ms") += ms(p, "buildTime")
        case "BroadcastExchange" =>
          out("op.broadcast_ms") += ms(p, "collectTime") + ms(p, "buildTime") + ms(p, "broadcastTime")
        case n if n.startsWith("Exchange") =>
          out("op.shuffle_write_ms") += ms(p, "shuffleWriteTime")
        case _ =>
      }
    }
    out.toMap
  }

  /** A hash of the final physical operator tree: node names and output
    * column names by depth, with expression ids and codegen-stage numbers
    * removed, so it changes only when the plan does.
    */
  def fingerprint(plan: SparkPlan): String = {
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec => walk(q.plan, depth)
      case _ =>
        sb.append(depth).append(' ')
          .append(p.nodeName.replaceAll("\\s*\\(\\d+\\)", "").replaceAll("#\\d+", ""))
          .append(p.output.map(_.name).mkString(" [", ",", "]\n"))
        p.children.foreach(walk(_, depth + 1))
        p.subqueries.foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sb.toString.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }
}
