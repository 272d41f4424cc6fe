package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  // One session for the whole test JVM (suites run in a single forked JVM).
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // A session with GraftExtensions, which only apply at session
  // construction: it shares the JVM's SparkContext, and the default-session
  // slot goes back to the plain session, which stays the control for
  // result comparisons.
  lazy val graftSpark: SparkSession = {
    val plain = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.engine.GraftSession.builder(master = "local[4]")
      .appName("graft-rule-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    SparkSession.setDefaultSession(plain)
    SparkSession.setActiveSession(plain)
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  lazy val graftSpark: SparkSession = SparkTestBase.graftSpark
  val sf0001 = "/root/testdata/sf0.001"
}
