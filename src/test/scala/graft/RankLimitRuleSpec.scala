package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The injected optimizer rule (RankLimitRule): `row_number() <= k` window
  * filters plan onto the bounded-heap TopKPerKey instead of a full
  * per-key sort, with identical results.
  */
class RankLimitRuleSpec extends SparkTestBase {

  private def ranked(s: SparkSession, k: Int): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").desc,
        col("l_partkey").desc, col("l_suppkey").desc, col("l_quantity").desc,
        col("l_linenumber").desc)
    Tables.lineitem(s, sf0001)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  test("row_number<=k filter plans onto TopKPerKeyExec") {
    val physical = ranked(graftSpark, 3).queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKey"), physical)
  }

  test("rewritten plan returns exactly the rows of the stock window plan") {
    val control = ranked(spark, 3)
    assert(!control.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val expected = control.collect().map(_.toSeq).toSet
    assert(ranked(graftSpark, 3).collect().map(_.toSeq).toSet == expected)
    assert(expected.size == 9) // 3 flags × k=3 at sf0.001
  }

  test("rank() and mixed-direction orderings are left untouched") {
    val wMixed = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc)
    val mixed = Tables.lineitem(graftSpark, sf0001)
      .withColumn("rn", row_number().over(wMixed))
      .filter(col("rn") <= 3)
    assert(!mixed.queryExecution.executedPlan.toString.contains("TopKPerKey"))

    val wRank = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc)
    val rk = Tables.lineitem(graftSpark, sf0001)
      .withColumn("r", rank().over(wRank))
      .filter(col("r") <= 3)
    assert(!rk.queryExecution.executedPlan.toString.contains("TopKPerKey"))
  }

  test("compound AND filter rewrites with identical rows; OR declines") {
    // rn <= k AND <other predicate>: the rank bound is extractable from a
    // conjunct because the full filter re-applies above the heap
    def compound(s: SparkSession): DataFrame = {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").desc,
          col("l_partkey").desc, col("l_suppkey").desc,
          col("l_quantity").desc, col("l_linenumber").desc)
      Tables.lineitem(s, sf0001)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3 && col("l_quantity") > 10)
    }
    val rewritten = compound(graftSpark)
    assert(rewritten.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val control = compound(spark).collect().map(_.toSeq).toSet
    assert(rewritten.collect().map(_.toSeq).toSet == control)
    // OR must decline: a row past rank k can still pass the other disjunct
    val w2 = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").desc)
    val orFilter = Tables.lineitem(graftSpark, sf0001)
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= 3 || col("l_quantity") > 10)
    assert(!orFilter.queryExecution.executedPlan.toString.contains("TopKPerKey"))
  }

  test("global (unpartitioned) rank filter is left to TakeOrdered paths") {
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = Tables.orders(graftSpark, sf0001)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
    assert(!df.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(df.count() == 5)
  }
}
