package graft.bench

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.engine.GraftSession

/** Per-micro-batch profiler for the streaming catalog rows (r19 verdict
  * #6): the streaming tier's wall cost was CLAIMED to be per-trigger
  * machinery; this tool makes that claim checkable by printing every
  * micro-batch's progress event — batch id, input rows, and the full
  * durationMs breakdown (triggerExecution, queryPlanning, walCommit,
  * addBatch, getBatch, commitOffsets, latestOffset) — while a named
  * streaming catalog row runs end-to-end.
  *
  * Usage: runMain graft.bench.StreamProfile [sfDir] [queryName ...]
  *   default rows: q_stream_evict q_stream_restart (the two slowest)
  *
  * Measurement-only: registers a listener and drives the unmodified
  * declared query through the standard noop sink; nothing about the
  * queries' execution changes.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_stream_evict", "q_stream_restart")
    val spark = GraftSession.getOrCreate()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[stream] ${e.name} STARTED")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
        val state = Option(p.stateOperators).filter(_.nonEmpty)
          .map(ops => s" stateRows=${ops.map(_.numRowsTotal).sum}" +
            s" stateUpdated=${ops.map(_.numRowsUpdated).sum}")
          .getOrElse("")
        println(s"[stream] ${p.name} batch=${p.batchId} " +
          s"inputRows=${p.numInputRows}$state $d")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[stream] TERMINATED")
    })
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[stream] $n total ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    // the last batches' progress events may still be queued on the bus;
    // stopping first would drop their lines
    org.apache.spark.graftshim.ListenerBusShim.drain(
      spark.sparkContext, timeoutMillis = 10000)
    spark.stop()
  }
}
