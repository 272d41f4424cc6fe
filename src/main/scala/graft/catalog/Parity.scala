package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{PositionalTake, Relational, SkewJoin}
import graft.sources.Tables
import graft.catalog.Support._
import graft.catalog.Tag._

/** The reference's five operators (filter, take, sum, hash partition,
  * PK–FK join) and their layout variants, each with its DuckDB oracle.
  */
object Parity extends Family {

  /** Filter + compaction (ref `dpu/shared/kernels/filter.c:57-177`). */
  private def qFilter(s: SparkSession, d: String): DataFrame =
    Relational
      .filterCompact(
        Tables.lineitem(s, d),
        col("l_extendedprice") < 30000.0,
        Seq("l_extendedprice"))
      .withColumnRenamed("l_extendedprice", "v")
      .orderBy("v")
  row("q_filter", qFilter, Anchor, Headline)(
      "SELECT l_extendedprice AS v FROM lineitem WHERE l_extendedprice < 30000 ORDER BY v")

  /** Scalar SUM (ref `host/aggr/aggr_dpu.cc:31-89`). */
  private def qSum(s: SparkSession, d: String): DataFrame =
    Relational.sumAgg(Tables.lineitem(s, d), "l_quantity", "sum_v")
      .select(col("sum_v").cast("double").as("sum_v"))
  row("q_sum", qSum, Anchor, Headline)(
      "SELECT CAST(SUM(l_quantity) AS DOUBLE) AS sum_v FROM lineitem")

  // q_take and q_take_merge_dist return the same result set
  private val takeOracle: String =
      """WITH v AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey,
        |                                     l_suppkey, l_quantity, l_extendedprice)
        |           - 1 AS idx,
        |         l_extendedprice AS v
        |  FROM lineitem)
        |SELECT idx, v FROM v WHERE idx % 8 = 0 ORDER BY idx""".stripMargin

  /** lineitem's values with their global position `idx`, cached once per
    * (session, directory) in [[Support.takeIndexMemo]] and shared by both
    * take rows.
    */
  private def takeIndexed(s: SparkSession, d: String): DataFrame =
    takeIndexMemo.synchronized {
      takeIndexMemo.computeIfAbsent(
        s"${System.identityHashCode(s)}:$d",
        _ => {
          val values = Tables.lineitem(s, d).select(liKey.map(col): _*)
          PositionalTake
            .withGlobalIndex(values, liKey)
            .select(col("idx"), col("l_extendedprice").as("v"))
            .cache()
        })
    }

  /** Positional take (ref `dpu/shared/kernels/take.c:12-47`): gather value
    * rows at deterministic global indices (multiples of 8 — the reference's
    * ⅛ indices-to-values ratio, `take_benchmark.cc:139`).
    */
  private def qTake(s: SparkSession, d: String): DataFrame = {
    // The indexed table is cached: index ONCE, gather many — the
    // steady-state of the reference's take workload, whose benchmark
    // likewise pre-builds the value array outside the measured gather
    // (`host/take/take_native.cc:18-38`). Both the index derivation (every
    // 8th position — no driver-side count()) and the gather read the same
    // in-memory instance instead of re-evaluating the
    // scan→range-shuffle→sort subtree per side, and the cache's exact size
    // stats let AQE broadcast the index side so the values never shuffle.
    val indexed = takeIndexed(s, d)
    val indices = indexed.filter(col("idx") % 8 === 0).select("idx")
    PositionalTake.take(indexed, indices, "idx").orderBy("idx")
  }
  row("q_take", qTake, Anchor, Headline)(takeOracle)

  /** The DISTRIBUTED merge gather ([[PositionalTake.mergeTakeDist]] — r14
    * verdict #5): same take semantics as [[qTake]], but the gather is a
    * range-partitioned co-sorted merge — the values side never shuffles
    * and nothing is broadcast or hashed, the plan that survives when the
    * index side outgrows the broadcast build (the `take_join` leg's knee
    * at `Probe ops take 64`: a 33.5M-key hashed relation per executor).
    * The only exchange is the index list's range shuffle to the values
    * partitions' own boundaries. Oracle identical to q_take's (same result set).
    */
  private def qTakeMergeDist(s: SparkSession, d: String): DataFrame = {
    val indexed = takeIndexed(s, d)
    val indices = indexed.filter(col("idx") % 8 === 0).select("idx")
    PositionalTake.mergeTakeDist(indexed, indices, "idx").orderBy("idx")
  }
  // q_take_merge_dist: identical semantics to q_take — only the gather's
  // physical strategy differs (range-partitioned merge, no broadcast)
  row("q_take_merge_dist", qTakeMergeDist)(takeOracle)

  /** Hash partition conservation (ref `host/partition/partition_dpu.cc:49-131`):
    * repartition on the key, then prove the row multiset survived (the
    * reference's own — disabled — invariants, `partition_test.cc:40-56`).
    */
  private def qPartition(s: SparkSession, d: String): DataFrame =
    Relational
      .hashPartition(Tables.lineitem(s, d), 32, "l_orderkey")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        sum(col("l_orderkey")).cast("long").as("sum_key"))
  row("q_partition", qPartition, Anchor, Headline)(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
        |FROM lineitem""".stripMargin)

  // q_join, q_salted_join and q_bucketed_join return the same result set
  private val joinOracle: String =
      """SELECT l.l_orderkey, l.l_quantity, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY l.l_orderkey, l.l_quantity, o.o_totalprice""".stripMargin

  /** PK–FK inner equi-join, right key dropped (ref `host/join/join_native.cc:31-36,75-76`).
    * Dimension side broadcast: at any scale where orders ≪ lineitem this is
    * the shuffle-free plan.
    */
  private[graft] def qJoin(s: SparkSession, d: String): DataFrame =
    Relational
      .pkFkJoin(
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
        Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        "l_orderkey",
        "o_orderkey",
        broadcastRight = true)
      .orderBy("l_orderkey", "l_quantity", "o_totalprice")
  row("q_join", qJoin, Anchor, Headline, Scaling)(joinOracle)

  /** Bucket-co-located PK–FK join: both sides are written ONCE as bucketed
    * tables on the join key (16 buckets, sorted), after which every join is
    * exchange-free AND sort-free — the persistent form of the reference's
    * partition-then-join pipeline (`host/join/join_dpu.cc` phase 1), paying
    * the shuffle at write time instead of per query. Result is identical to
    * [[qJoin]] (same oracle).
    */
  private def qBucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val li = bucketedTable(s, s"graft_li_bkt_$tag",
      s"/tmp/graft_bucketed/$tag/lineitem",
      "l_orderkey BIGINT, l_quantity DOUBLE", "l_orderkey") {
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
    }
    val o = bucketedTable(s, s"graft_o_bkt_$tag",
      s"/tmp/graft_bucketed/$tag/orders",
      "o_orderkey BIGINT, o_totalprice DOUBLE", "o_orderkey") {
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    }
    li.join(o.hint("MERGE"), li("l_orderkey") === o("o_orderkey"), "inner")
      .drop("o_orderkey")
      .orderBy("l_orderkey", "l_quantity", "o_totalprice")
  }
  row("q_bucketed_join", qBucketedJoin)(joinOracle)

  /** Bucket-PRUNED point lookup — the at-scale point-query story the
    * bucketed layout buys beyond shuffle-free joins ([[qBucketedJoin]]):
    * an equality/IN probe on the bucket column opens ONLY the buckets the
    * keys hash into (`SelectedBucketsCount` in the scan, pinned by
    * `PlanAuditSpec`), so a needle query on a 100 TB table reads 3/16ths
    * of the files instead of all of them — no index structure, just the
    * write-time layout. Reuses [[qBucketedJoin]]'s staged orders table.
    * `autoBucketedScan` is pinned OFF around the read: Spark's
    * DisableUnnecessaryBucketedScan rule models only exchange-avoidance
    * benefits, so left alone it turns the bucketed scan off here and
    * forfeits the pruning this query exists for.
    */
  private def qBucketLookup(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    withConf(s, "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val o = bucketedTable(s, s"graft_o_bkt_$tag",
        s"/tmp/graft_bucketed/$tag/orders",
        "o_orderkey BIGINT, o_totalprice DOUBLE", "o_orderkey") {
        Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      }
      val out = o.filter(col("o_orderkey").isin(64L, 128L, 999L))
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .orderBy("o_orderkey")
      // planning is lazy and reads SQLConf at plan time — force it while
      // the conf override is live (QueryExecution caches the result)
      out.queryExecution.executedPlan
      out
    }
  }
  // q_bucket_lookup: plain point probe
  row("q_bucket_lookup", qBucketLookup)(
      """SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders WHERE o_orderkey IN (64, 128, 999)
        |ORDER BY o_orderkey""".stripMargin)

  /** Salted skew join — row-multiset identical to the plain PK–FK join. */
  private def qSaltedJoin(s: SparkSession, d: String): DataFrame =
    SkewJoin.saltedInnerJoin(
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
        Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        "l_orderkey", "o_orderkey", saltFactor = 8)
      .drop("o_orderkey")
      .orderBy("l_orderkey", "l_quantity", "o_totalprice")
  row("q_salted_join", qSaltedJoin, Scaling)(joinOracle)
}
