package graft

import java.nio.file.Files

import org.apache.spark.graftshim.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.sources.Tables

/** `Tables.parquet` reads the schema from one footer in-process instead
  * of running Spark's schema-inference job; these pin that the schema is
  * exactly Spark's own (nullability and metadata included), that no job
  * starts, and that nothing is cached across calls.
  */
class TablesSpec extends SparkTestBase with BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("tables_spec").toFile

  override def afterAll(): Unit = graft.engine.Fs.deleteRecursively(root)

  private def inferred(path: String) = spark.read.parquet(path).schema

  private def tmpDir(tag: String): String = s"$root/$tag"

  test("every table's schema equals Spark's inferred schema, at every fixture") {
    val fixtures = new java.io.File(sf0001).getParent
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$fixtures/$sf") :+
      "graftbench/data/sf0.01"
    for (d <- dirs; name <- Tables.names) {
      assert(Tables.load(spark, d, name).schema == inferred(Tables.path(d, name)),
        s"$d/$name")
    }
  }

  test("a Spark-written multi-file directory and a partitioned one match inference") {
    val flat = s"${tmpDir("flat")}/t"
    spark.range(30).select(col("id"), (col("id") % 7).cast("string").as("s"))
      .repartition(3).write.parquet(flat)
    val names = new java.io.File(flat).list().toSeq
    assert(names.contains("_SUCCESS"))
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3)
    assert(Tables.parquet(spark, flat).schema == inferred(flat))

    val parted = s"${tmpDir("parted")}/t"
    spark.range(30).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(parted)
    assert(Tables.parquet(spark, parted).schema == inferred(parted))
    assert(Tables.parquet(spark, parted).schema.fieldNames.toSeq == Seq("id", "k"))
  }

  test("building a table DataFrame starts no Spark job") {
    val sc = spark.sparkContext
    val group = "tables-spec-build"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build only")
      val df: DataFrame =
        try Tables.lineitem(spark, sf0001)
        finally sc.clearJobGroup()
      ListenerBusShim.drain(sc, timeoutMillis = 10000)
      assert(df.columns.contains("l_orderkey"))
      assert(jobs.get == 0, s"${jobs.get} job(s) started while building lineitem")
    } finally sc.removeSparkListener(listener)
  }

  test("a directory rewritten with a different schema is read with the new one") {
    val dir = s"${tmpDir("rewrite")}/t"
    spark.range(3).toDF("a").write.parquet(dir)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq == Seq("a"))
    spark.range(3).select(col("id").cast("string").as("b"), lit(1.5).as("c"))
      .write.mode("overwrite").parquet(dir)
    val again = Tables.parquet(spark, dir)
    assert(again.schema == inferred(dir))
    assert(again.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(again.count() == 3)
  }

  test("a missing path fails with the same exception class as spark.read.parquet") {
    val missing = s"${tmpDir("missing")}/absent.parquet"
    val expected = intercept[Exception](spark.read.parquet(missing))
    val got = intercept[Exception](Tables.parquet(spark, missing))
    assert(got.getClass == expected.getClass)
  }
}
