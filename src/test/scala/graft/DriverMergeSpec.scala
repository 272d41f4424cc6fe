package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.graftshim.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

import graft.catalog.Support.{drain, withConf}
import graft.plans.DriverMergeExec

/** `DriverMergeStrategy`: a grouping-free aggregate on the extension
  * session merges its partial rows on the driver and answers exactly as
  * Spark's partial → `Exchange SinglePartition` → final plan does on the
  * plain session; the aggregates it declines keep Spark's plan.
  */
class DriverMergeSpec extends SparkTestBase {

  /** 1000 rows over 4 partitions: an int, a double, a decimal(38,2) and an
    * all-NULL int column. The doubles are multiples of 1/8, so their sums
    * are exact in any order of addition.
    */
  private def t(s: SparkSession): DataFrame = s.range(0, 1000, 1, 4).select(
    (col("id") % 97).cast("int").as("v"),
    (col("id") / 8.0).as("d"),
    (col("id") * 1.25).cast(DecimalType(38, 2)).as("dec"),
    lit(null).cast("int").as("n"))

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
    case p => p
  }

  private def merged(df: DataFrame): Boolean =
    finalPlan(df).exists(_.isInstanceOf[DriverMergeExec])

  /** Collects `q` on both sessions, asserts equal rows, and returns the
    * extension session's DataFrame for plan checks.
    */
  private def same(q: SparkSession => DataFrame): DataFrame = {
    val g = q(graftSpark)
    assert(g.collect().toSeq == q(spark).collect().toSeq, g.queryExecution.executedPlan)
    g
  }

  /** The SparkThrowable condition an action fails with, or its rows. */
  private def outcome(df: DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq)
    catch {
      case e: Throwable =>
        Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case st: SparkThrowable => st.getCondition }
          .getOrElse(e.getClass.getName))
    }

  private val fns = Seq[String => Column](
    c => sum(c), c => count(c), c => min(c), c => max(c), c => avg(c))

  test("sum, count, min, max and avg over empty input equal Spark's, with and without partitions") {
    val empty = same(s => t(s).filter(col("v") < 0).agg(count(lit(1)), fns.map(_("v")): _*))
    assert(merged(empty))
    assert(empty.collect().head.getLong(0) == 0L)
    // zero partitions: the partial aggregate emits no row at all
    val schema = StructType(Seq(StructField("v", IntegerType)))
    def noParts(s: SparkSession) = s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    val none = same(s => noParts(s).agg(count(lit(1)), fns.map(_("v")): _*))
    val merge = finalPlan(none).collectFirst { case m: DriverMergeExec => m }
    assert(merge.exists(_.child.execute().getNumPartitions == 0), finalPlan(none))
    assert(none.collect().toSeq == Seq(Row(0L, null, 0L, null, null, null)))
    assert(same(_.emptyDataFrame.agg(count(lit(1)))).collect().toSeq == Seq(Row(0L)))
  }

  test("an all-NULL column, double and decimal sums and FILTER clauses equal Spark's") {
    assert(merged(same(s => t(s).agg(count(lit(1)), fns.map(_("n")): _*))))
    assert(merged(same(s => t(s).agg(sum("d"), avg("d"), sum("dec"), avg("dec"), min("dec")))))
    assert(merged(same(s => t(s).agg(
      expr("sum(v) FILTER (WHERE v > 50)"), expr("count(*) FILTER (WHERE n IS NULL)"),
      expr("max(dec) FILTER (WHERE v < 0)")))))
  }

  test("decimal sum overflow fails or yields NULL as Spark's does, under either ANSI setting") {
    // 3e37 per row in decimal(38,0): two rows per partition stay in range
    // and only the merge of the four partials overflows; four rows per
    // partition overflow inside each partial already
    def big(s: SparkSession, rows: Int): DataFrame = s.range(0, rows, 1, 4)
      .select(lit("3" + "0" * 37).cast(DecimalType(38, 0)).as("x"))
      .agg(sum("x"), count(lit(1)))
    for (ansi <- Seq("true", "false"); rows <- Seq(8, 16)) {
      val (g, p) = withConf(graftSpark, "spark.sql.ansi.enabled" -> ansi) {
        withConf(spark, "spark.sql.ansi.enabled" -> ansi) {
          (outcome(big(graftSpark, rows)), outcome(big(spark, rows)))
        }
      }
      assert(g == p, s"ansi=$ansi rows=$rows")
      assert(g.isLeft == (ansi == "true"), s"ansi=$ansi rows=$rows: $g")
    }
  }

  test("aggregates in and around scalar subqueries equal Spark's") {
    val inner = same(s => s.range(5).select(col("id") + t(s).agg(max("v")).scalar()))
    assert(inner.collect().length == 5)
    // an aggregate whose own expressions hold a subquery keeps Spark's plan
    val outer = same(s => t(s).agg(sum("v") + t(s).agg(max("v")).scalar()))
    assert(!merged(outer))
  }

  test("the one-partition RDD path: a noop write, df.rdd and a join over a merged aggregate") {
    def agg(s: SparkSession) = t(s).agg(sum("v").as("s"), count(lit(1)).as("c"))
    val g = agg(graftSpark)
    assert(merged(g))
    g.write.format("noop").mode("overwrite").save()
    assert(g.rdd.count() == 1)
    assert(g.rdd.collect().toSeq == agg(spark).rdd.collect().toSeq)
    assert(merged(same(s => agg(s).crossJoin(s.range(3)).orderBy("id"))))
  }

  test("DISTINCT, collect_list, percentile_approx and streaming keep Spark's SinglePartition exchange") {
    def kept(df: DataFrame): Unit = {
      val plan = finalPlan(df).toString
      assert(plan.contains("SinglePartition") && !plan.contains("DriverMerge"), plan)
    }
    kept(same(s => t(s).agg(countDistinct("v"))))
    kept(same(s => t(s).agg(sort_array(collect_list("v")))))
    kept(same(s => t(s).agg(percentile_approx(col("v"), lit(0.5), lit(100)))))
    val ms = MemoryStream[Int](Encoders.scalaInt, graftSpark)
    ms.addData(1 to 10: _*)
    val q = drain(ms.toDF().agg(sum("value").as("s")).writeStream
      .format("memory").queryName("driver_merge_stream").outputMode("complete").start())
    assert(graftSpark.table("driver_merge_stream").collect().toSeq == Seq(Row(55L)))
    val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    assert(last.toString.contains("SinglePartition") && !last.toString.contains("DriverMerge"), last)
  }

  test("agg(sum) and count() over a cached input run exactly one job") {
    val s = graftSpark
    val sc = s.sparkContext
    val cached = s.range(0, 10000, 1, 4).select((col("id") % 97).as("v")).cache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val group = "driver-merge-jobs"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    def jobsOf(action: => Unit): Int = {
      ListenerBusShim.drain(sc, timeoutMillis = 10000)
      jobs.set(0)
      sc.setJobGroup(group, "driver merge")
      try action finally sc.clearJobGroup()
      ListenerBusShim.drain(sc, timeoutMillis = 10000)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      cached.count()
      assert(jobsOf(assert(cached.agg(sum("v")).collect().head.getLong(0) == 479604L)) == 1)
      assert(jobsOf(assert(cached.count() == 10000L)) == 1)
    } finally {
      sc.removeSparkListener(listener)
      cached.unpersist()
    }
  }
}
