package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.engine.GraftSession

/** One benchmark run inside one JVM: set-up, an untimed check pass, the
  * timed pass and, with `trace=1`, a traced repeat of the timed pass
  * followed by one more untraced repeat.
  *
  * Usage: `Harness <run.properties>`. The properties name the workload
  * kind (`ref` or `catalog`), the operations in run order, the fixture
  * directory and where to write the raw record (`raw`). Every number
  * written is raw: durations, listener counters and spans; `run.py`
  * reduces them to metrics.
  *
  * The harness only calls the program's public entry points
  * (`SparkEntry.queries`, `SparkEntry.evictCaches`, `graft.operators.*`,
  * DataFrame actions) and reads Spark's public listener events.
  */
object Harness {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * millisecond timestamps Spark puts on its listener events. */
  private def epochMs(ns: Long): Double = ms0 + (ns - ns0) / 1e6

  /** One timed operation: `build` makes the DataFrame (the program's
    * construction layer), `act` runs it and returns None when its output
    * checks out, or the reason it does not. */
  final case class Op(name: String, build: () => Any, act: Any => Option[String])

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val conf = new java.util.Properties
    val in = Files.newInputStream(Paths.get(args(0)))
    try conf.load(in) finally in.close()
    def prop(k: String): String = Option(conf.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing property $k"))
    val catalog = prop("kind") == "catalog"
    val order = prop("ops").split(",").toSeq

    val spark = GraftSession.getOrCreate()
    val raw = mutable.LinkedHashMap[String, Any]("session_s" -> (System.nanoTime() - t0) / 1e9)
    val sc = spark.sparkContext

    val ops: Seq[Op] =
      if (!catalog) {
        val sizes = RefOps.Sizes(prop("ref.values").toLong, prop("ref.partition").toLong,
          prop("ref.join").toLong)
        val (ops, fp) = RefOps.setup(spark, prop("seed").toLong, sizes, prop("iters").toInt,
          prop("warmups").toInt, order)
        raw("ref") = fp
        ops
      } else {
        val dir = prop("dir")
        val out = prop("out")
        // the untimed check pass, which is also the first warm-up: each
        // row's result goes to parquet for the oracle comparison, and the
        // bytes it wrote while its DataFrame was built are recorded
        val rec = new Recorder
        sc.addSparkListener(rec)
        val failures = mutable.LinkedHashMap.empty[String, String]
        val checkMs = mutable.LinkedHashMap.empty[String, Double]
        val rows = order.distinct
        rows.zipWithIndex.foreach { case (n, i) =>
          wipeStaging()
          SparkEntry.evictCaches(spark)
          Bus.drain(sc)
          rec.op = 2 * i
          val a = System.nanoTime()
          try {
            val df = SparkEntry.queries(n)(spark, dir)
            Bus.drain(sc)
            rec.op = 2 * i + 1
            df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
            Bus.drain(sc)
          } catch { case e: Throwable => failures(n) = oneLine(e) }
          checkMs(n) = (System.nanoTime() - a) / 1e6
        }
        sc.removeSparkListener(rec)
        val timedOps = order.map(n => Op(n, () => SparkEntry.queries(n)(spark, dir), df => {
          df.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save()
          None
        }))
        val counters = rec.dump()("counters").asInstanceOf[Map[String, Map[String, Double]]]
        def c(op: Int, k: String) = counters.get(op.toString).flatMap(_.get(k)).getOrElse(0.0)
        raw("check") = Map(
          "failures" -> failures.toMap,
          "ms" -> checkMs.toMap,
          "build_bytes_written" -> rows.zipWithIndex.map { case (n, i) =>
            n -> c(2 * i, "sources.bytes_written") }.toMap,
          "result_rows" -> rows.zipWithIndex.map { case (n, i) =>
            n -> c(2 * i + 1, "sources.records_written") }.toMap)
        timedOps
      }

    def pass(rec: Option[Recorder]): Seq[Map[String, Any]] = {
      System.gc()
      val gcBefore = gcTotals()
      val res = ops.zipWithIndex.map { case (op, i) =>
        if (catalog) { wipeStaging(); SparkEntry.evictCaches(spark) }
        Bus.drain(sc)
        rec.foreach(_.op = i)
        val g0 = gcTotals()
        val a = System.nanoTime()
        var m = a
        val bad =
          try { val x = op.build(); m = System.nanoTime(); op.act(x) }
          catch { case e: Throwable => Some(oneLine(e)) }
        val b = System.nanoTime()
        if (m == a) m = b
        Bus.drain(sc)
        rec.foreach { r =>
          val g1 = gcTotals()
          r.counter("jvm.gc_count", (g1._1 - g0._1).toDouble)
          r.counter("jvm.gc_pause_ms", (g1._2 - g0._2).toDouble)
          r.counter("sources.build_ms", (m - a) / 1e6)
          r.harnessSpan(s"op$i", "op", epochMs(a), epochMs(b), null)
          r.harnessSpan(s"build$i", "sources.build", epochMs(a), epochMs(m), s"op$i")
          r.harnessSpan(s"exec$i", "exec", epochMs(m), epochMs(b), s"op$i")
        }
        Map("name" -> op.name, "ms" -> (b - a) / 1e6, "error" -> bad.orNull)
      }
      val gcAfter = gcTotals()
      raw(if (rec.isDefined) "traced_gc" else "gc") =
        Map("count" -> (gcAfter._1 - gcBefore._1), "ms" -> (gcAfter._2 - gcBefore._2))
      res
    }

    raw("setup_end_epoch_ms") = System.currentTimeMillis()
    raw("ops") = pass(None)
    raw("peak_rss_mb") = peakRssMb()
    raw("live_heap_mb") = liveHeapMb()
    if (prop("trace") == "1") {
      val rec = new Recorder
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      spark.streams.addListener(rec.streaming)
      raw("traced_ops") = pass(Some(rec))
      Bus.drain(sc)
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      spark.streams.removeListener(rec.streaming)
      raw("trace") = rec.dump()
      // a second untraced pass brackets the traced one, so the tracing
      // overhead is not confounded with the JIT still warming up
      raw("ops_after") = pass(None)
    }
    Files.writeString(Paths.get(prop("raw")), Json(raw.toMap))
    spark.stop()
  }

  private def oneLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).replace('\n', ' ').take(300)

  /** Deletes the `/tmp/graft_*` staging and checkpoint trees catalog rows
    * write, so that every writing operation starts from the same state. */
  def wipeStaging(): Unit =
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).foreach(deleteTree)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def gcTotals(): (Long, Long) = {
    var n, t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      n += math.max(0L, b.getCollectionCount); t += math.max(0L, b.getCollectionTime)
    }
    (n, t)
  }

  /** Heap still reachable after the timed pass (after two full
    * collections), in MB: what the session retains between queries. */
  private def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON writer for the raw record (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
      case n: Number => sb.append(n.toString)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.toSeq.zipWithIndex.foreach { case ((k, vv), i) =>
          if (i > 0) sb.append(','); str(k.toString); sb.append(':'); go(vv)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        s.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
    }
    go(v)
    sb.toString
  }
}
