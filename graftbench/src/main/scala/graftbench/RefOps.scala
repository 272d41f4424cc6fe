package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.operators.PositionalTake

/** The reference's five operators (filter, take, sum, hash partition,
  * PK–FK join) on in-memory uint32 columns, as the project's `RefBench`
  * headline rows run them (merge take over a sorted index array,
  * sort-merge join under AQE), each finished by the count or aggregate
  * its check reads.
  *
  * Inputs are `pmod(xxhash64(id + seed << 32), 2^32)`, cached before
  * timing. The expected answers are computed independently on the driver
  * with the same hash, so every timed iteration is checked exactly.
  */
object RefOps {
  private val U32 = 4294967296L

  final case class Sizes(values: Long, partition: Long, join: Long)

  def setup(spark: SparkSession, seed: Long, sizes: Sizes, iters: Int, warmups: Int,
      order: Seq[String]): (Seq[Harness.Op], Map[String, Any]) = {
    val off = seed << 32
    def u32(c: Column): Column = pmod(xxhash64(c + lit(off)), lit(U32))
    def v(id: Long): Long = java.lang.Math.floorMod(XXH64.hashLong(id + off, 42L), U32)
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"graftbench: ref set-up $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // filter, sum and take read the value column of one cached table; the
    // in-memory scan prunes `idx` away where it is not used
    val values = cached(spark.range(sizes.values)
      .select(col("id").as("idx"), u32(col("id")).as("v")))
    val partIn = cached(spark.range(sizes.partition).select(u32(col("id")).as("v")))
    val right = cached(spark.range(sizes.join).select(col("id").as("pk"), u32(col("id")).as("x")))
    val left = cached(spark.range(sizes.join).select(
      pmod(xxhash64(col("id") + lit(off), lit(7)), lit(sizes.join)).as("fk"),
      u32(col("id")).as("y")))
    phase("inputs cached")

    // expected answers, from a driver-side loop independent of Spark's plans
    var filterCount, sumV, takeSum, partSum, partHash = 0L
    var i = 0L
    while (i < sizes.values) {
      val x = v(i)
      if (x < (1L << 30)) filterCount += 1
      sumV += x
      if ((i & 7) == 0) takeSum += x
      i += 1
    }
    i = 0L
    while (i < sizes.partition) {
      val x = v(i); partSum += x
      partHash += java.lang.Math.floorMod(XXH64.hashLong(x, 42L), 1L << 31)
      i += 1
    }
    phase("expected answers computed")
    val takeCount = (sizes.values + 7) / 8
    val idx = Array.tabulate(takeCount.toInt)(_ * 8L)
    val taken = PositionalTake.mergeTake(values, idx)

    def expect(name: String, got: Seq[Long], want: Seq[Long]): Option[String] =
      if (got == want) None else Some(s"$name: got ${got.mkString(",")} want ${want.mkString(",")}")
    def longs(df: DataFrame): Seq[Long] = {
      val r = df.collect().head
      (0 until r.length).map(j => if (r.isNullAt(j)) -1L else r.getLong(j))
    }
    val ops: Map[String, Harness.Op] = Map(
      "filter" -> Harness.Op("filter",
        () => values.filter(col("v") < (1L << 30)),
        df => expect("filter count", Seq(df.asInstanceOf[DataFrame].count()), Seq(filterCount))),
      "sum" -> Harness.Op("sum",
        () => values.agg(sum(col("v"))),
        df => expect("sum", longs(df.asInstanceOf[DataFrame]), Seq(sumV))),
      "take" -> Harness.Op("take",
        () => taken.agg(count(lit(1)), sum(col("v"))),
        df => expect("take count,sum", longs(df.asInstanceOf[DataFrame]), Seq(takeCount, takeSum))),
      "partition" -> Harness.Op("partition",
        () => partIn.repartition(32, col("v")).agg(count(lit(1)), sum(col("v")),
          sum(pmod(xxhash64(col("v")), lit(1L << 31)))),
        df => expect("partition count,sum,hash", longs(df.asInstanceOf[DataFrame]),
          Seq(sizes.partition, partSum, partHash))),
      "join" -> Harness.Op("join",
        () => left.join(right.hint("MERGE"), col("fk") === col("pk"), "inner"),
        df => expect("join count", Seq(df.asInstanceOf[DataFrame].count()), Seq(sizes.join))))

    val failures = mutable.LinkedHashMap.empty[String, String]
    for (_ <- 0 until warmups; name <- order) {
      val op = ops(name)
      op.act(op.build()).foreach(f => failures(name) = s"warm-up: $f")
    }
    phase("warmed up")
    val rounds = Seq.tabulate(iters) { r =>
      new scala.util.Random(seed * 1000 + r).shuffle(order).map(ops)
    }.flatten
    val fingerprint = Map("seed" -> seed, "values" -> sizes.values,
      "partition" -> sizes.partition, "join" -> sizes.join,
      "input_rows" -> Map("filter" -> sizes.values, "sum" -> sizes.values, "take" -> sizes.values,
        "partition" -> sizes.partition, "join" -> sizes.join),
      "warmup_failures" -> failures.toMap)
    (rounds, fingerprint)
  }
}
