package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.Typed
import graft.ext.{Components, DataQuality, PageRank, Sampling, Multimodal}
import graft.functions.{GraftFunctions, NativeExpressions, TypedAggregates}
import graft.functions.GraftFunctions._
import graft.operators.{AsOfJoin, Changelog, PositionalTake, PrefixSum, RangeJoin, SpatialJoin}
import graft.sources.Tables
import graft.streaming.EventsPipeline
import graft.catalog.Support._
import graft.catalog.Tag._

/** The remaining analytics rows: relational, window, sketch, statistics,
  * sampling, graph and format round-trip queries.
  */
object Analytics extends Family {

  /** Scan-heavy filter+aggregate (TPC-H Q6 shape): every predicate reaches
    * the parquet scan; the aggregate is a single partial→final pair.
    */
  private def qFilterAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24.0)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n"))
  row("q_filter_agg", qFilterAgg)(
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin)

  /** Grouped aggregation (TPC-H Q1 shape — beyond the reference's scalar-only
    * SUM, SURVEY §2.3).
    */
  private def qGroupAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  row("q_group_agg", qGroupAgg)(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |       ROUND(SUM(l_extendedprice), 2) AS sum_base,
        |       ROUND(AVG(l_quantity), 4) AS avg_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** Top-k: per-partition heap + driver merge (`TakeOrderedAndProject`),
    * never a global sort.
    */
  private def qTopK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  row("q_topk", qTopK)(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)

  /** Join + group + top-k (TPC-H Q3 shape). */
  private def qJoinAggTopK(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(broadcast(o), li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }
  row("q_join_agg_topk", qJoinAggTopK)(
      """SELECT o.o_orderkey,
        |       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey
        |ORDER BY revenue DESC, o.o_orderkey LIMIT 10""".stripMargin)

  /** Left-semi join (EXISTS). */
  private def qSemiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")
  }
  row("q_semi_join", qSemiJoin)(
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)

  /** Left-anti join (NOT EXISTS): customers with no urgent orders (the
    * unfiltered variant is empty in the testdata).
    */
  private def qAntiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")
  }
  row("q_anti_join", qAntiJoin)(
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)

  /** Window functions: rank + running sum per order (absent from the
    * reference, SURVEY §2.3).
    */
  private def qWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Order within the partition by the full unique key so rank and running
    // sum are deterministic across engines.
    val tie = liKey.tail.map(col)
    val w = Window.partitionBy(col("l_orderkey")).orderBy(tie: _*)
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        row_number().over(w).cast("long").as("rn"),
        sum(col("l_quantity"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("run_qty"))
      .orderBy(col("l_orderkey") +: tie :+ col("rn"): _*)
      .select("l_orderkey", "l_linenumber", "rn", "run_qty")
  }
  row("q_window", qWindow, Anchor, Headline)(
      """SELECT l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |       CAST(SUM(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |                                  AND CURRENT ROW) AS DOUBLE) AS run_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
        |                      l_extendedprice)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |         l_extendedprice, rn""".stripMargin)

  /** Multi-way join (TPC-H Q5 shape): region → nation → customer → orders
    * → lineitem with a date-range filter; dims broadcast down the chain,
    * the fact table never shuffles for the joins.
    */
  private def qMultiJoin(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    li.join(broadcast(o), li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }
  row("q_multi_join", qMultiJoin)(
      """SELECT n.n_name,
        |       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)

  /** Exact percentiles (linear interpolation — matches QUANTILE_CONT).
    * One `percentile(col, array(...))` aggregate: a single value buffer
    * per group instead of three.
    */
  private def qPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.5), lit(0.9), lit(0.99))).as("ps"))
      .select(
        col("l_returnflag"),
        round(col("ps").getItem(0), 4).as("p50"),
        round(col("ps").getItem(1), 4).as("p90"),
        round(col("ps").getItem(2), 4).as("p99"))
      .orderBy("l_returnflag")
  row("q_percentiles", qPercentiles)(
      """SELECT l_returnflag,
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50,
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90,
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Per-key top-k via the custom bounded-heap operator
    * (`graft.plans.TopKPerKey` — logical node + strategy + exec): no
    * per-group sort, one shuffle on the key. Ordering struct carries the
    * full unique key so ties are deterministic.
    */
  private def qTopKPerKey(s: SparkSession, d: String): DataFrame = {
    val ord = struct(
      col("l_extendedprice"), col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity"), col("l_linenumber"))
    graft.plans.TopKPerKey
      .topKPerKey(Tables.lineitem(s, d), Seq("l_returnflag"), ord, k = 3)
      .select(
        col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"))
      .orderBy(
        col("l_returnflag"), col("l_extendedprice").desc, col("l_orderkey").desc,
        col("l_linenumber").desc)
  }
  row("q_topk_per_key", qTopKPerKey, Anchor, Headline)(
      """SELECT l_returnflag, l_extendedprice, l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber
        |FROM (
        |  SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice DESC, l_orderkey DESC, l_partkey DESC,
        |                    l_suppkey DESC, l_quantity DESC, l_linenumber DESC) AS rn
        |  FROM lineitem)
        |WHERE rn <= 3
        |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey DESC,
        |         l_linenumber DESC""".stripMargin)

  /** Exact decimal aggregation: sums carried in DECIMAL (no float drift),
    * converted to double only for the final comparison.
    */
  private def qDecimalSum(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(14,4)")).cast("double").as("sum_disc_price"))
      .orderBy("l_returnflag")
  row("q_decimal_sum", qDecimalSum)(
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(14,4)))
        |            AS DOUBLE) AS sum_disc_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** ROLLUP grouping sets (no grouping concept at all in the reference). */
  private def qRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  row("q_rollup", qRollup)(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  /** Correlated LATERAL subquery — per-nation top-2 customers by exact
    * integer-unit spend, through the ANSI LATERAL surface (the SQL twin
    * of the [[plans.TopKPerKey]] operator family: same semantics, third
    * mechanism — Catalyst DECORRELATES the ordered-limited correlated
    * subquery into a per-key rank under the hood, so no nation's
    * candidate list is ever evaluated per outer row). Spend accumulates
    * as exact 1e-2 currency longs (order-independent, bit-identical
    * across engines); ties break on c_custkey. At 100 TB the aggregate
    * shuffles once on (nationkey, custkey) and the decorrelated rank
    * shuffles once on nationkey — the 25-row nation side never drives
    * per-row re-execution.
    */
  private def qLateralTopn(s: SparkSession, d: String): DataFrame = {
    val nation = tempView(s, d, "graft_nation", Tables.nation(s, d))
    val cust = tempView(s, d, "graft_customer", Tables.customer(s, d))
    val orders = tempView(s, d, "graft_orders", Tables.orders(s, d))
    s.sql(
      s"""WITH spend AS (
         |  SELECT c.c_nationkey, c.c_custkey,
         |         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS sp
         |  FROM $cust c JOIN $orders o ON o.o_custkey = c.c_custkey
         |  GROUP BY 1, 2)
         |SELECT n.n_name, t.c_custkey, CAST(t.sp AS DOUBLE) / 100.0 AS spend
         |FROM $nation n
         |JOIN LATERAL (
         |  SELECT s.c_custkey, s.sp FROM spend s
         |  WHERE s.c_nationkey = n.n_nationkey
         |  ORDER BY s.sp DESC, s.c_custkey LIMIT 2) t
         |ORDER BY n.n_name, spend DESC, c_custkey""".stripMargin)
  }
  // q_lateral_topn: same LATERAL formulation; exact 1e-2 spend units
  row("q_lateral_topn", qLateralTopn)(
      """WITH spend AS (
        |  SELECT c.c_nationkey, c.c_custkey,
        |         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS sp
        |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2)
        |SELECT n.n_name, t.c_custkey, CAST(t.sp AS DOUBLE) / 100.0 AS spend
        |FROM nation n, LATERAL (
        |  SELECT s.c_custkey, s.sp FROM spend s
        |  WHERE s.c_nationkey = n.n_nationkey
        |  ORDER BY s.sp DESC, s.c_custkey LIMIT 2) t
        |ORDER BY n.n_name, spend DESC, c_custkey""".stripMargin)

  /** percentile_disc vs percentile_cont cross-check per group — the two
    * ANSI WITHIN-GROUP order statistics side by side over per-flag
    * quantities. The oracle derives `disc` from FIRST PRINCIPLES (the
    * smallest value whose cume_dist ≥ p — the ANSI definition — via a
    * window, not DuckDB's quantile_disc, whose index rounding is not
    * guaranteed to match), so Spark's builtin is checked against the
    * definition itself; `cont` interpolates linearly at (n−1)·p, which
    * over whole-number quantities at quarter fractions is EXACT
    * quarter-integer arithmetic in any engine — bit-identical without
    * rounding. Scale: one hash shuffle on the group key; each group's
    * sort is per-key (no global ordering).
    */
  private def qPercentilesWithin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)")
          .cast("double").as("p25_disc"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
          .cast("double").as("p50_disc"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity)")
          .cast("double").as("p75_disc"),
        expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity)")
          .cast("double").as("p25_cont"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)")
          .cast("double").as("p50_cont"),
        expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity)")
          .cast("double").as("p75_cont"))
      .orderBy("l_returnflag")
  // q_percentiles_within: disc from the ANSI first-principles definition
  // (smallest value with cume_dist >= p), cont via quantile_cont (exact
  // quarter-integer interpolation over whole-number quantities)
  row("q_percentiles_within", qPercentilesWithin)(
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |         cume_dist() OVER (PARTITION BY l_returnflag
        |                           ORDER BY l_quantity) AS cd
        |  FROM lineitem),
        |d AS (
        |  SELECT l_returnflag,
        |         CAST(MIN(CASE WHEN cd >= 0.25 THEN l_quantity END)
        |              AS DOUBLE) AS p25_disc,
        |         CAST(MIN(CASE WHEN cd >= 0.5 THEN l_quantity END)
        |              AS DOUBLE) AS p50_disc,
        |         CAST(MIN(CASE WHEN cd >= 0.75 THEN l_quantity END)
        |              AS DOUBLE) AS p75_disc
        |  FROM r GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag,
        |         CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS p25_cont,
        |         CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS p50_cont,
        |         CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS p75_cont
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT d.l_returnflag, p25_disc, p50_disc, p75_disc,
        |       p25_cont, p50_cont, p75_cont
        |FROM d JOIN c ON d.l_returnflag = c.l_returnflag
        |ORDER BY d.l_returnflag""".stripMargin)

  /** Interval-OVERLAP join (the symmetric sibling of [[qAsofJoin]] and
    * the point-in-interval [[qRangeJoin]]): per-user daily sessions
    * [first event, last event] from two disjoint user cohorts, paired
    * when they overlap in time — the co-presence join behind concurrency
    * billing, contention analysis, and contact tracing. The production
    * shape is day-partitioned + HOUR-BANDED: each interval explodes into
    * the hour buckets it spans (sessions are hours long, so the
    * expansion is small and bounded), candidates meet on the (day,
    * bucket) equi-key — never a per-day cross product — and a pair is
    * counted only in the bucket holding its overlap START
    * (`floor(max(a_start, b_start))` — the standard dedup that avoids a
    * distinct shuffle over multi-bucket pairs). Overlap lengths sum as
    * exact integer µs. The DuckDB oracle is the quadratic per-day join —
    * differential proof that banding loses no pair. At 100 TB the
    * candidate volume is governed by bucket width: narrower bands trade
    * map-side expansion for fewer false candidates, and the day key
    * partition-prunes both sides.
    */
  private def qIntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val sess = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id", "day")
      .agg(min(col("us")).as("a"), max(col("us")).as("b"))
    def side(m: Int, p: String) = sess
      .filter(pmod(col("user_id"), lit(10)) === m)
      .select(col("user_id").as(s"${p}_uid"), col("day"),
        col("a").as(s"${p}_a"), col("b").as(s"${p}_b"))
    RangeJoin
      .overlapJoin(side(0, "x"), side(1, "y"), Seq("day"),
        "x_a", "x_b", "y_a", "y_b", bucketWidth = 3600000000L)
      .select(col("day"),
        (least(col("x_b"), col("y_b")) - greatest(col("x_a"), col("y_a")))
          .as("ov_us"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_pairs"), sum(col("ov_us")).as("sum_overlap_us"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_pairs"), col("sum_overlap_us"))
      .orderBy("day")
  }
  // q_interval_overlap: the quadratic per-day reference join —
  // differential proof that the engine's hour-banding loses no pair
  row("q_interval_overlap", qIntervalOverlap)(
      """WITH s AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         MIN(epoch_us(ts)) AS a, MAX(epoch_us(ts)) AS b
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(s1.day, '%Y-%m-%d') AS day,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(LEAST(s1.b, s2.b) - GREATEST(s1.a, s2.a))
        |            AS BIGINT) AS sum_overlap_us
        |FROM s s1 JOIN s s2 ON s1.day = s2.day
        |WHERE s1.user_id % 10 = 0 AND s2.user_id % 10 = 1
        |  AND s1.a <= s2.b AND s2.a <= s1.b
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Set operations: UNION ALL / INTERSECT / EXCEPT over key projections. */
  private def qSetOps(s: SparkSession, d: String): DataFrame = {
    val a = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"))
    val b = Tables.orders(s, d).filter(col("o_orderpriority") === "5-LOW")
      .select(col("o_custkey").as("k"))
    a.intersect(b).withColumn("op", lit("both"))
      .unionAll(a.distinct().exceptAll(b.distinct()).withColumn("op", lit("urgent_only")))
      .orderBy("op", "k")
  }
  row("q_set_ops", qSetOps)(
      """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
        |     b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '5-LOW')
        |SELECT k, 'both' AS op FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
        |UNION ALL
        |SELECT k, 'urgent_only' AS op
        |FROM (SELECT DISTINCT k FROM a EXCEPT ALL SELECT DISTINCT k FROM b)
        |ORDER BY op, k""".stripMargin)

  /** Scalar-function sampler: math/string/conditional projections. */
  private def qScalarFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        round(abs(col("o_totalprice") - 100000.0), 2).as("abs_diff"),
        round(sqrt(col("o_totalprice")), 4).as("sqrt_price"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        upper(col("o_orderstatus")).as("status_u"),
        length(col("o_orderpriority")).cast("long").as("prio_len"),
        when(col("o_totalprice") > 200000.0, lit("big"))
          .otherwise(lit("small")).as("bucket"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"))
      .orderBy("o_orderkey")
  row("q_scalar_funcs", qScalarFuncs)(
      """SELECT o_orderkey,
        |       ROUND(ABS(o_totalprice - 100000.0), 2) AS abs_diff,
        |       ROUND(SQRT(o_totalprice), 4) AS sqrt_price,
        |       substring(o_orderpriority, 1, 1) AS prio_code,
        |       upper(o_orderstatus) AS status_u,
        |       CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        |       CASE WHEN o_totalprice > 200000.0 THEN 'big' ELSE 'small' END AS bucket,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(month(o_orderdate) AS BIGINT) AS o_month
        |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** Distinct (dedup as a relational operator) + exact distinct count. */
  private def qDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_linestatus")).as("n_status"))
      .orderBy("l_returnflag")
  row("q_distinct", qDistinct)(
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_status
        |FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** As-of join: each error event picks up the user's most recent prior
    * purchase value (see [[graft.operators.AsOfJoin]]).
    */
  private def qAsOfJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    AsOfJoin
      .asOfJoinLatest(errors, purchases, Seq("user_id"), "ts", "ts",
        Seq("purchase_value"))
      .select(col("event_id"), round(col("purchase_value"), 4).as("purchase_value"))
      .orderBy("event_id")
  }
  row("q_asof_join", qAsOfJoin)(
      """WITH purchases AS (
        |  SELECT user_id, ts, MAX(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |errors AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
        |SELECT e.event_id, ROUND(p.purchase_value, 4) AS purchase_value
        |FROM errors e ASOF LEFT JOIN purchases p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin)

  /** Range join: customers whose balance falls within ±50 of a supplier's
    * balance — bucketed interval join, no cross product
    * (see [[graft.operators.RangeJoin]]).
    */
  private def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    val bands = Tables.supplier(s, d)
      .select(
        col("s_suppkey"),
        (col("s_acctbal") - 50.0).as("lo"),
        (col("s_acctbal") + 50.0).as("hi"))
    RangeJoin
      .pointInIntervalJoin(c, bands, "c_acctbal", "lo", "hi", bucketWidth = 100.0)
      .select("c_custkey", "s_suppkey")
      .orderBy("c_custkey", "s_suppkey")
  }
  row("q_range_join", qRangeJoin)(
      """SELECT c.c_custkey, s.s_suppkey
        |FROM customer c JOIN supplier s
        |  ON c.c_acctbal BETWEEN s.s_acctbal - 50.0 AND s.s_acctbal + 50.0
        |ORDER BY c.c_custkey, s.s_suppkey""".stripMargin)

  /** Sketch aggregates: HLL distinct counts audited in-plan against the
    * exact counts. The estimates themselves are engine-specific (DuckDB has
    * no HLL++ at rsd 0.05), so the row emits the exact counts plus a bound
    * verdict per sketch — rsd = 0.05, 3σ = 15% bounds the relative error
    * with overwhelming probability (the floor `CrossCheckSpec` has pinned
    * since round 3) — and the oracle computes the exact side and asserts
    * the guarantee as literal TRUE. A sketch drifting past its declared
    * error hash-mismatches this row. Same differential-oracle discipline as
    * the reference's aggregate tests (host/aggr/aggr_test.cc:25-48). The
    * exact side is the audit, not the production path — at 100 TB only the
    * mergeable sketch runs. The two exact distincts are SPLIT into
    * two-level aggregations (distinct-pairs then count) joined back to the
    * one-pass sketch aggregate, NOT packed into one agg: two
    * countDistincts in a single aggregate plan an Expand that triples
    * every row through one wide shuffle — measured 1.41 s vs 0.55 s for
    * the split form at sf0.1, and each split branch scans only its two
    * pruned columns.
    */
  private def qSketches(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val exactOrders = li.select("l_returnflag", "l_orderkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("exact_orders"))
    val exactParts = li.select("l_returnflag", "l_partkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("exact_parts"))
    val sketches = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_orderkey"), 0.05).as("approx_orders"),
      approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"))
    exactOrders.join(exactParts, "l_returnflag").join(sketches, "l_returnflag")
      .select(
        col("l_returnflag"),
        col("exact_orders"),
        col("exact_parts"),
        (abs(col("approx_orders") - col("exact_orders"))
          <= col("exact_orders") * 0.15).as("hll_orders_ok"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * 0.15).as("hll_parts_ok"))
      .orderBy("l_returnflag")
  }
  // the HLL estimates are engine-specific, so the oracle checks the exact
  // distinct counts and asserts the rsd-derived error bound as literal
  // TRUE — Spark computes the hll_*_ok verdicts in-plan
  row("q_sketches", qSketches)(
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |       TRUE AS hll_orders_ok, TRUE AS hll_parts_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Approximate-quantile sketch (Greenwald–Khanna via `percentile_approx`)
    * audited in-plan against the exact distribution — completing the
    * mergeable-sketch family (HLL `q_sketches`, Misra-Gries
    * `q_heavy_hitters`, quantiles here). One scalar row per (group, q)
    * carrying the exact percentile (oracle-checkable), the group count, and
    * `gk_bound_ok`: whether the sketch's pick lands within the GK
    * rank-error bound (|rank(pick) − q·n| ≤ max(1, ⌊n/1000⌋) + 1). The
    * picks themselves are engine-specific (DuckDB's approx_quantile is a
    * t-digest), so the oracle asserts the GUARANTEE as a literal TRUE plus
    * the exact percentiles — canonicalize-before-compare, the reference's
    * own test discipline (host/join/join_test.cc:27-38). At 100 TB the
    * sketch is the only viable path — exact percentiles need a full sort
    * per group, GK merges bounded summaries; the rank audit broadcasts the
    * 9 pick rows back over the scan, so it adds no extra shuffle.
    */
  private def qApproxQuantiles(s: SparkSession, d: String): DataFrame = {
    val qs = array(lit(0.5), lit(0.95), lit(0.99))
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"))
    // per-group sketch picks + exact percentiles + count, exploded to one
    // scalar row per (group, q)
    val picks = li
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), qs, lit(1000)).as("approx_arr"),
        percentile(col("l_extendedprice"), qs).as("exact_arr"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"), col("exact_arr"),
        posexplode(col("approx_arr")))
      .select(
        col("l_returnflag"),
        element_at(qs, col("pos") + 1).as("q"),
        col("col").as("approx_p"),
        element_at(col("exact_arr"), col("pos") + 1).as("exact_p"),
        col("n"))
    // rank each pick in the exact distribution (broadcast of 9 rows — no
    // shuffle) and emit the bound verdict instead of the engine-specific pick
    // The GK guarantee says SOME rank of the picked value lies within
    // eps*n of q*n. A duplicated pick value occupies a whole rank
    // interval [count(<pick)+1, count(<=pick)], so the verdict must test
    // that the INTERVAL intersects the band — testing only the max-rank
    // (count <= pick) would flag a correct sketch as out-of-bound
    // whenever the pick value's duplicate run is longer than the band.
    li.join(broadcast(picks), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("q"), col("approx_p"),
        col("exact_p"), col("n"))
      .agg(
        sum(when(col("l_extendedprice") < col("approx_p"), 1L)
          .otherwise(0L)).as("rank_lo"),
        sum(when(col("l_extendedprice") <= col("approx_p"), 1L)
          .otherwise(0L)).as("rank_hi"))
      .select(
        col("l_returnflag"),
        col("q"),
        round(col("exact_p"), 4).as("exact_p"),
        col("n"),
        {
          val band =
            greatest(lit(1L), floor(col("n") / 1000)).cast("double") + 1
          val target = col("q") * col("n")
          ((col("rank_lo") + 1 <= target + band) &&
            (col("rank_hi") >= target - band)).as("gk_bound_ok")
        })
      .orderBy("l_returnflag", "q")
  }
  // the GK picks are engine-specific (DuckDB approx_quantile is a
  // t-digest), so the oracle checks the exact percentiles and asserts the
  // rank-error guarantee as a literal TRUE — Spark computes gk_bound_ok
  // in-plan; a sketch violating its bound hash-mismatches this row
  row("q_approx_quantiles", qApproxQuantiles)(
      """SELECT l_returnflag, CAST(0.5 AS DOUBLE) AS q,
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS exact_p,
        |       COUNT(*) AS n, TRUE AS gk_bound_ok
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, CAST(0.95 AS DOUBLE),
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.95), 4),
        |       COUNT(*), TRUE
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, CAST(0.99 AS DOUBLE),
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.99), 4),
        |       COUNT(*), TRUE
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag, q""".stripMargin)

  /** GK-sketch PARTIAL-MERGE across the storage boundary (the
    * mergeability contract beside [[qIncrementalAgg]]'s sum-merge and
    * [[qHllMerge]]'s HLL roll-up, now for QUANTILES): the corpus is split
    * into two halves; the even-key half's Greenwald–Khanna summary
    * ([[TypedAggregates.GkBuild]] — Spark's own `QuantileSummaries`
    * engine, the state inside `percentile_approx`, driven through its
    * public insert/compress/merge/query surface) is a WRITE-ONCE PARQUET
    * artifact (the standing daily sketch); the odd-key half's summary is
    * computed fresh (the delta); [[TypedAggregates.GkMergeQuery]]
    * re-aggregates the stored states by GK-merge and answers
    * q ∈ {0.5, 0.9, 0.99} — raw data is never rescanned for the roll-up.
    * At 100 TB this is the only viable percentile-over-any-window path:
    * per-shard/per-day KB-scale summaries stored once, merged per query.
    * The merged picks are sketch-internal, so the row emits the
    * [[qApproxQuantiles]] rank-interval audit instead: rank(pick) must
    * lie within 2·ε·n + 1 of q·n (ε = 1/10000; the factor 2 covers the
    * error growth a two-summary merge is allowed), plus the exact
    * percentiles and count for the DuckDB differential. A merge that
    * loses or double-counts rank mass fails the bound.
    */
  private def qQuantileMerge(s: SparkSession, d: String): DataFrame = {
    val qVals = Seq(0.5, 0.9, 0.99)
    val eps = 1.0 / 10000
    val build = udaf(new TypedAggregates.GkBuild(eps))
    val mergeQ = udaf(new TypedAggregates.GkMergeQuery(qVals),
      org.apache.spark.sql.Encoders.product[TypedAggregates.GkState])
    val orders = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    def half(parity: Int) = orders
      .filter(pmod(col("o_orderkey"), lit(2)) === parity)
      .agg(build(col("o_totalprice")).as("state"))
    val baseDir = s"/tmp/graft_gk/${dirTag(d)}/base"
    stagedOnce(baseDir) {
      // the state is ONE summary row (KB-scale); repartition(1) after the
      // aggregate per the house law (never coalesce above an agg)
      half(0).repartition(1).write.mode("overwrite").parquet(baseDir)
    }
    val qArr = array(qVals.map(lit): _*)
    // a product input encoder is flattened top-level: one arg per field
    val picks = Tables.parquet(s, baseDir)
      .unionAll(half(1))
      .agg(mergeQ(col("state.values"), col("state.gs"), col("state.deltas"),
        col("state.count"), col("state.relativeError")).as("picks"))
      .select(posexplode(col("picks")).as(Seq("pos", "pick")))
      .select(element_at(qArr, col("pos") + 1).as("q"), col("pick"))
    // rank-interval audit: one corpus pass against the 3 broadcast picks
    // (the qApproxQuantiles shape), plus the exact percentiles for the
    // oracle — the sketch pick itself is engine-internal and never emitted
    val ranks = orders.join(broadcast(picks))
      .groupBy("q", "pick")
      .agg(
        sum(when(col("o_totalprice") < col("pick"), 1L).otherwise(0L))
          .as("rank_lo"),
        sum(when(col("o_totalprice") <= col("pick"), 1L).otherwise(0L))
          .as("rank_hi"),
        count(lit(1)).as("n"))
    val exact = orders
      .agg(percentile(col("o_totalprice"), qArr).as("exact_arr"))
      .select(posexplode(col("exact_arr")).as(Seq("pos", "exact_p")))
      .select(element_at(qArr, col("pos") + 1).as("q"), col("exact_p"))
    ranks.join(broadcast(exact), "q")
      .select(
        col("q"),
        round(col("exact_p"), 4).as("exact_p"),
        col("n"),
        {
          val band = lit(2.0) * lit(eps) * col("n") + 1.0
          val target = col("q") * col("n")
          ((col("rank_lo") + 1 <= target + band) &&
            (col("rank_hi") >= target - band)).as("gk_merge_bound_ok")
        })
      .orderBy("q")
  }
  // q_quantile_merge: the merged GK picks are sketch-internal, so the
  // oracle checks the exact percentiles + count and asserts the merge's
  // rank bound as literal TRUE (the q_approx_quantiles discipline)
  row("q_quantile_merge", qQuantileMerge)(
      """SELECT CAST(0.5 AS DOUBLE) AS q,
        |       ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS exact_p,
        |       CAST(COUNT(*) AS BIGINT) AS n, TRUE AS gk_merge_bound_ok
        |FROM orders
        |UNION ALL
        |SELECT CAST(0.9 AS DOUBLE),
        |       ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4),
        |       CAST(COUNT(*) AS BIGINT), TRUE
        |FROM orders
        |UNION ALL
        |SELECT CAST(0.99 AS DOUBLE),
        |       ROUND(QUANTILE_CONT(o_totalprice, 0.99), 4),
        |       CAST(COUNT(*) AS BIGINT), TRUE
        |FROM orders
        |ORDER BY q""".stripMargin)

  /** Bloom semi-join reduction — the 100 TB shuffle-cutting pattern made
    * explicit as an operator: build a bloom filter over the selective build
    * side (distributed treeAggregate via `stat.bloomFilter`; the filter
    * itself is KB-scale host metadata), probe it in the fact scan's filter
    * BEFORE the shuffle, then run the exact semi-join over the survivors.
    * False positives are removed by the join, so the result is exact and
    * the DuckDB oracle is the plain semi-join — the bloom changes the
    * plan's traffic, never its answer. The probe is a fully-codegen'd
    * native expression ([[graft.functions.NativeExpressions.BloomMightContain]]);
    * at 1000 executors the filter broadcast replaces shuffling the ~96% of
    * fact rows that cannot match. (Session-level runtime bloom stays
    * opt-in — `GraftSession` measured it regressing on unselective builds;
    * this row is the measured-selective case where the pattern pays.)
    */
  private def qBloomPrefilter(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    // build-side cardinality sizes the filter: one metadata-sized count
    // job, then the distributed build (fpp 1% at that capacity)
    val bytes = GraftFunctions.buildBloom(urgent, "o_orderkey")
    Tables.lineitem(s, d)
      .filter(NativeExpressions.bloom_might_contain(col("l_orderkey"), bytes))
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }
  // q_bloom_prefilter: the bloom probe is plan traffic, not semantics —
  // the oracle is the plain exact semi-join
  row("q_bloom_prefilter", qBloomPrefilter)(
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
        |       SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Mergeable-sketch re-aggregation: per-day HLL user sketches unioned
    * into a single corpus-wide estimate WITHOUT rescanning the events —
    * the store-daily / roll-up-monthly shape that makes sketches the only
    * viable distinct-count path at 100 TB (exact distinct needs a full
    * user_id shuffle per window). The merged estimate is engine-specific
    * (DataSketches HLL internals), so the row emits the exact distinct
    * count plus an in-plan bound verdict: lgConfigK=12 → relative standard
    * error ≈ 1.04/√4096 ≈ 1.6%, and the 5σ = 8% band `CrossCheckSpec` has
    * pinned since round 3 becomes `hll_bound_ok`. The DuckDB oracle
    * computes the exact side and asserts the guarantee as literal TRUE — a
    * merge that loses precision hash-mismatches this row. The exact
    * distinct is the audit, not the production path; at 100 TB only the
    * daily-sketch roll-up runs.
    */
  private def qHllMerge(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val daily = e
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val merged = daily
      .agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_users"))
    val exact = e.agg(countDistinct(col("user_id")).as("exact_users"))
    // both sides are one scalar row; a literal-key equi-join keeps the
    // combine a BroadcastHashJoin (the cartesian gate in PlanAuditSpec
    // stays allowlist-free)
    merged.withColumn("one", lit(1))
      .join(broadcast(exact.withColumn("one", lit(1))), "one")
      .select(
        col("n_days"),
        col("exact_users"),
        (abs(col("merged_users") - col("exact_users"))
          <= col("exact_users") * 0.08).as("hll_bound_ok"))
  }
  // merged-HLL estimate is engine-specific; the oracle checks n_days and
  // the exact distinct users, asserting the 5-sigma band as literal TRUE
  row("q_hll_merge", qHllMerge)(
      """SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS hll_bound_ok
        |FROM events""".stripMargin)

  /** Typed COGROUP — the `KeyValueGroupedDataset` batch surface
    * ([[graft.api.Typed]]'s escape hatch): orders and lineitems
    * co-partitioned on the order key, per-key ITERATORS handed to
    * arbitrary JVM logic. The reconciliation here (line count + cents
    * total + empty-order flag per order) folds the lineitem iterator in
    * a single streaming pass — nothing per-key is materialized except
    * the ≤1 order row — and orphan line groups (no parent order) emit an
    * ORPHAN marker the relational LEFT JOIN cannot express without a
    * second anti-join pass. Scale: one shuffle per side (the same
    * exchange a join would pay), per-key memory O(1); the cost is that
    * typed lambdas opaque-box rows — no codegen, no pushdown past the
    * scan — so cogroup is reserved for logic SQL can't state (sequence
    * alignment, custom merges). THIS row's logic deliberately can be
    * stated in SQL (left join + conditional aggregate), which is what
    * makes it fully oracle-checkable; the compact per-status rollup
    * rides a normal relational aggregate after the typed seam.
    */
  private def qCogroup(s: SparkSession, d: String): DataFrame = {
    val recon = Typed
      .reconcileOrders(Typed.orders(s, d), Typed.lineitem(s, d))
      .toDF("status", "n_lines", "line_cents", "empty")
    recon.groupBy("status")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("n_lines")).as("n_lines"),
        sum(col("line_cents")).as("line_cents"),
        sum(col("empty")).as("n_empty_orders"))
      .orderBy("status")
  }
  // q_cogroup: the typed reconciliation replayed relationally (left
  // join + conditional aggregate); the fixture has no orphan lines
  // (lineitem FK), so the cogroup's ORPHAN branch emits nothing and
  // both engines see the same status domain
  row("q_cogroup", qCogroup)(
      """WITH lc AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(COALESCE(lc.n, 0)) AS BIGINT) AS n_lines,
        |       CAST(SUM(COALESCE(lc.cents, 0)) AS BIGINT) AS line_cents,
        |       CAST(SUM(CASE WHEN lc.l_orderkey IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_empty_orders
        |FROM orders LEFT JOIN lc ON o_orderkey = lc.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** MULTIPLE DISTINCT aggregates in one pass — the query shape Catalyst
    * executes via EXPAND: each input row is replicated once per distinct
    * group (×3 here: partkey-distinct, suppkey-distinct, plain), then a
    * two-level aggregate dedups and combines. The row exists to PIN that
    * shape and its 100 TB implication (PlanAuditSpec asserts the Expand):
    * shuffle input multiplies by the distinct-aggregate count, so at
    * scale the alternatives are `approx_count_distinct` (the
    * [[qHllMerge]] family — no Expand, mergeable KB sketches) or
    * separate per-column rollups joined on the group key; exact
    * multi-distinct is the AUDIT, not the steady-state dashboard query.
    * The non-distinct aggregates ride the same pass unchanged (Expand
    * routes them through the null-extended branch).
    */
  private def qMultiDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy("l_returnflag")
  // q_multi_distinct: integral quantities, exact counts — plain SQL
  row("q_multi_distinct", qMultiDistinct)(
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** HLL sketch SET ALGEBRA — audience overlap by inclusion-exclusion
    * (|A∩B| ≈ est(A) + est(B) − est(A∪B)), the estimator every
    * overlap/reach dashboard runs because HLL has union but NO native
    * intersection: purchase-audience ∩ click-audience from three
    * KB-scale sketches built in ONE conditional-aggregation pass (never
    * a per-pair user-set join). The exact sides ride the same single
    * scan (per-user bool_or flags → one compact distinct-user aggregate)
    * as the audit, and the verdict pins the known caveat — inclusion-
    * exclusion COMPOUNDS the per-sketch error (3 sketches ⇒ ~3× the
    * 1.6% lgK=12 bound, and the RELATIVE error blows up as the true
    * intersection shrinks vs the union) — with a bound scaled to the
    * union size, the estimator's actual error scale. At 100 TB: three
    * mergeable sketches vs a full user_id shuffle per audience pair.
    */
  private def qHllIntersect(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
    val sk = e.agg(
      hll_sketch_estimate(
        hll_sketch_agg(when(col("event_type") === "purchase",
          col("user_id")), lit(12))).as("est_a"),
      hll_sketch_estimate(
        hll_sketch_agg(when(col("event_type") === "click",
          col("user_id")), lit(12))).as("est_b"),
      hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("est_u"))
    val exact = e.groupBy(col("user_id"))
      .agg(
        max(col("event_type") === "purchase").as("a"),
        max(col("event_type") === "click").as("b"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("exact_a"),
        sum(when(col("b"), 1L).otherwise(0L)).as("exact_b"),
        count(lit(1)).as("exact_union"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("exact_inter"))
    exact.withColumn("one", lit(1))
      .join(broadcast(sk.withColumn("one", lit(1))), "one")
      .select(
        col("exact_a"), col("exact_b"), col("exact_union"),
        col("exact_inter"),
        (abs(col("est_a") + col("est_b") - col("est_u")
          - col("exact_inter")) <= col("exact_union") * 0.10 + 1.0)
          .as("inter_bound_ok"))
  }
  // q_hll_intersect: exact audience sets via per-user conditional flags;
  // the inclusion-exclusion estimate is engine-internal, so the oracle
  // pins the exacts and asserts the union-scaled bound as literal TRUE
  row("q_hll_intersect", qHllIntersect)(
      """WITH u AS (
        |  SELECT user_id,
        |         MAX(event_type = 'purchase') AS a,
        |         MAX(event_type = 'click') AS b
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY user_id)
        |SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS exact_a,
        |       CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS exact_b,
        |       CAST(COUNT(*) AS BIGINT) AS exact_union,
        |       CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |         AS exact_inter,
        |       TRUE AS inter_bound_ok
        |FROM u""".stripMargin)

  /** Count-min-sketch frequency estimates beside the exact counts: one
    * pass builds the sketch (mergeable, fixed KB-scale memory); the probe
    * is a native expression over the serialized sketch
    * ([[graft.functions.NativeExpressions.CmsEstimate]]). The estimate is
    * engine-specific (Spark's CMS layout), so the row emits the exact
    * count plus an in-plan verdict of the CMS guarantee — estimate ≥
    * exact always, and ≤ exact + ⌈ε·N⌉ at the configured confidence (the
    * bound `CrossCheckSpec` has pinned since round 3; deterministic here
    * because the seed is fixed). The DuckDB oracle computes the exact side
    * and asserts the guarantee as literal TRUE — a sketch that under- or
    * over-counts past ε·N hash-mismatches this row. At 100 TB the sketch
    * answers point-frequency queries from KBs of state where the exact
    * group-by needs a full shuffle of the key column; the exact side here
    * is the audit, and N rides the same group-by via a window sum over the
    * handful of group rows (no second scan).
    */
  private def qCmsFreq(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
    // eps=0.001 → width 2719, depth 5 at 99% confidence; seed fixed for
    // deterministic output. The sketch binary is host metadata (KBs).
    val skBytes = e
      .agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)"))
      .head().getAs[Array[Byte]](0)
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_n"))
      .withColumn("est_n",
        NativeExpressions.cms_estimate(col("event_type"), skBytes))
      // total stream length N, summed over the (few) group rows — the
      // window is over a single-digit row set, not the events table
      .withColumn("n_total",
        sum(col("exact_n")).over(Window.partitionBy(lit(1))))
      .select(
        col("event_type"),
        col("exact_n"),
        (col("est_n") >= col("exact_n") &&
          col("est_n") <= col("exact_n")
            + ceil(col("n_total") * 0.001).cast("long"))
          .as("cms_bound_ok"))
      .orderBy("event_type")
  }
  // CMS layout is engine-specific; the oracle checks the exact counts and
  // asserts the (never-undercount, overcount <= ceil(eps*N)) guarantee as
  // literal TRUE — deterministic because the sketch seed is fixed
  row("q_cms_freq", qCmsFreq)(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_n,
        |       TRUE AS cms_bound_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Equi-width histogram over a measure column: one partial-agg pass, the
    * primitive behind distribution profiling at 100 TB (each executor emits
    * ≤ n_buckets partials; the final reduce is bucket-count-sized). Fixed
    * a-priori bucket edges (width 6000) keep the bucketing engine-portable:
    * k·6000 is exactly representable in IEEE double, so Spark and DuckDB
    * floor identically at the boundaries.
    */
  private def qHistogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / lit(6000.0)).cast("int").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("lo"),
        round(max(col("l_extendedprice")), 2).as("hi"))
      .orderBy("bucket")
  row("q_histogram", qHistogram)(
      """SELECT CAST(floor(l_extendedprice / 6000.0) AS INT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(MIN(l_extendedprice), 2) AS lo,
        |       ROUND(MAX(l_extendedprice), 2) AS hi
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin)

  /** Quantile discretization (ML feature prep): per-group deciles of the
    * price column via `ntile` over a TOTAL order (price + the unique
    * 6-column key — ties would otherwise make bucket assignment
    * engine-dependent), summarized per bucket. This is the exact variant:
    * it pays a per-group sort, which is the right tool up to the sizes a
    * partition sort handles; past that, [[qApproxQuantiles]]' GK cutpoints
    * are the 100 TB path (bounded summaries, no global sort) — the two
    * rows document the trade explicitly.
    */
  private def qDeciles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag").orderBy(
      col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    Tables.lineitem(s, d)
      .withColumn("decile", ntile(10).over(w))
      .groupBy("l_returnflag", "decile")
      .agg(
        count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("lo"),
        round(max(col("l_extendedprice")), 2).as("hi"))
      .orderBy("l_returnflag", "decile")
  }
  row("q_deciles", qDeciles)(
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         ntile(10) OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber,
        |                    l_partkey, l_suppkey, l_quantity) AS decile
        |  FROM lineitem)
        |SELECT l_returnflag, decile, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(MIN(l_extendedprice), 2) AS lo,
        |       ROUND(MAX(l_extendedprice), 2) AS hi
        |FROM t GROUP BY l_returnflag, decile
        |ORDER BY l_returnflag, decile""".stripMargin)

  /** Gaps-and-islands: each user's longest run of consecutive active days.
    * The island key is `day − row_number·1d` (constant within a run,
    * distinct across runs) — a window over the user partition, so the only
    * wide state is one row per (user, active-day) after the distinct, and
    * every step shuffles on user_id alone.
    */
  private def qStreaks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", date_add(col("day"), -row_number().over(w)))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("streak"))
      .groupBy("user_id")
      .agg(max(col("streak")).as("longest_streak"))
      .orderBy("user_id")
  }
  row("q_streaks", qStreaks)(
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |runs AS (
        |  SELECT user_id,
        |         day - CAST(row_number() OVER (
        |           PARTITION BY user_id ORDER BY day) AS INT) AS grp
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, grp, COUNT(*) AS streak
        |  FROM runs GROUP BY user_id, grp)
        |SELECT user_id, CAST(MAX(streak) AS BIGINT) AS longest_streak
        |FROM streaks GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** DAU/WAU stickiness per ISO week — the engagement ratio a product
    * pipeline reports next to [[qFunnel]] and [[qRetention]]: how many of
    * the week's actives show up on an average day. Daily and weekly
    * distinct-user sets are both exact count-distincts keyed on compact
    * (period, user) pairs — map-side dedup before any exchange; the
    * week-level join is week-keyed.
    */
  private def qDauStickiness(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(
      to_date(col("ts")).as("day"),
      weekofyear(col("ts")).as("week"),
      col("user_id"))
    val dau = e.groupBy("week", "day").agg(countDistinct(col("user_id")).as("dau"))
      .groupBy("week").agg(
        count(lit(1)).as("n_days"),
        round(avg(col("dau")), 4).as("avg_dau"))
    val wau = e.groupBy("week").agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "week")
      .select(
        col("week"), col("n_days"), col("avg_dau"), col("wau"),
        round(col("avg_dau") / col("wau"), 6).as("stickiness"))
      .orderBy("week")
  }
  // q_dau_stickiness: exact distinct actives per day and week, ISO week
  // numbers agree across engines on this data range
  row("q_dau_stickiness", qDauStickiness)(
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, weekofyear(ts) AS week,
        |                  user_id
        |           FROM events),
        |dau AS (SELECT week, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM e GROUP BY 1, 2),
        |d2 AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_days,
        |              ROUND(AVG(dau), 4) AS avg_dau
        |       FROM dau GROUP BY 1),
        |wau AS (SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM e GROUP BY 1)
        |SELECT d2.week, n_days, avg_dau, wau.wau,
        |       ROUND(avg_dau / wau.wau, 6) AS stickiness
        |FROM d2 JOIN wau USING (week) ORDER BY week""".stripMargin)

  /** Pivot: status × returnflag quantity matrix. */
  private def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity")))
      .select(
        col("l_returnflag"),
        coalesce(col("F"), lit(0.0)).cast("double").as("qty_f"),
        coalesce(col("O"), lit(0.0)).cast("double").as("qty_o"))
      .orderBy("l_returnflag")
  row("q_pivot", qPivot)(
      """SELECT l_returnflag,
        |       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0)
        |            AS DOUBLE) AS qty_f,
        |       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0)
        |            AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Uncorrelated scalar subquery through the SQL surface. */
  private def qScalarSubquery(s: SparkSession, d: String): DataFrame = {
    val orders = tempView(s, d, "graft_orders", Tables.orders(s, d))
    s.sql(
      s"""SELECT o_orderkey,
         |       ROUND(o_totalprice - (SELECT AVG(o_totalprice) FROM $orders), 2)
         |         AS diff_from_avg
         |FROM $orders
         |ORDER BY o_orderkey""".stripMargin)
  }
  row("q_scalar_subquery", qScalarSubquery)(
      """SELECT o_orderkey,
        |       ROUND(o_totalprice - (SELECT AVG(o_totalprice) FROM orders), 2)
        |         AS diff_from_avg
        |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** Tumbling-window event aggregation (batch twin of the streaming path). */
  private def qEventsWindow(s: SparkSession, d: String): DataFrame =
    EventsPipeline.windowedAgg(Tables.events(s, d))
      .orderBy("window_start", "event_type")
  row("q_events_window", qEventsWindow)(eventsWindowOracle)

  /** Schema-on-read evolution: two parquet generations of the events feed
    * — an early one without the `value` column, a later one with it —
    * merged by `mergeSchema` into one logical table (missing columns read
    * as null), then aggregated. This is the ingest reality at 100 TB:
    * upstream producers add columns mid-corpus and a rewrite of petabytes
    * of old files is not an option; schema merge at the footer level costs
    * metadata only. Write-once staged artifact (dirTag discipline); the
    * oracle reconstructs the same split arithmetically from the original
    * table.
    */
  private def qSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val base = s"/tmp/graft_evo/$tag"
    stagedOnceGuarded(base)(
      new java.io.File(s"$base/gen2", "_SUCCESS").exists()) {
      val e = Tables.events(s, d)
      e.filter(col("event_id") % 2 === 0)
        .select("event_id", "event_type")
        .write.mode("overwrite").parquet(s"$base/gen1")
      e.filter(col("event_id") % 2 =!= 0)
        .select("event_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$base/gen2")
    }
    s.read.option("mergeSchema", "true")
      .parquet(s"$base/gen1", s"$base/gen2")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("value")).as("n_with_value"),
        round(sum(coalesce(col("value"), lit(0.0))), 4).as("sum_value"))
      .orderBy("event_type")
  }
  // q_schema_evolution: the two staged parquet generations split events
  // by event_id parity (gen1 lacks `value`); the oracle reconstructs the
  // same split arithmetically
  row("q_schema_evolution", qSchemaEvolution)(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_with_value,
        |       ROUND(SUM(CASE WHEN event_id % 2 <> 0 THEN value ELSE 0 END), 4)
        |         AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** The iteration-invariant co-purchase graph — orders⋈lineitem edge
    * build, distinct, symmetrize, degree aggregation, dangling
    * validation — STAGED once per directory as a bucketed-on-src table
    * (dirTag discipline, like the ANN index) and SHARED by both
    * iterative graph rows ([[qPagerank]], [[qLabelProp]]): every
    * execution runs only its iterations, and the bucketing keeps the
    * edge side of each iteration's join exchange-free.
    */
  private def pagerankEdges(s: SparkSession, d: String): DataFrame =
    bucketedTable(s, s"graft_pr_ed_${dirTag(d)}",
      s"/tmp/graft_pr/${dirTag(d)}/edges",
      "src BIGINT, dst BIGINT, deg BIGINT", "src") {
      val cs = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(
          col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = cs.select(col("cust").as("src"), col("supp").as("dst"))
        .union(cs.select(col("supp").as("src"), col("cust").as("dst")))
      PageRank.prepare(edges, "src", "dst")
    }

  /** PageRank centrality over the customer↔supplier co-purchase graph of
    * urgent-priority orders (edges: customer bought a lineitem that
    * supplier supplied; symmetrized, supplier ids offset into a disjoint
    * id space — the priority filter keeps the demo row's edge build
    * proportionate while exercising the identical operator). The
    * quality-weighting signal of a curation pipeline — rank sources by
    * linkage — on a genuinely multi-hop bipartite graph. Five fixed power
    * iterations ([[graft.ext.PageRank]]); the oracle unrolls the identical
    * recurrence as five chained CTEs, so even the iterative operator is
    * DuckDB-checked value-for-value (rounded to 8 decimals — double
    * summation-order slack is ~1e-15 of rank mass, six orders below the
    * rounding grain).
    */
  private def qPagerank(s: SparkSession, d: String): DataFrame = {
    PageRank.runPrepared(pagerankEdges(s, d), iterations = 5)
      .select(col("id"), round(col("rank"), 8).as("rank"))
      .orderBy("id")
  }
  // q_pagerank: the same 5-step power iteration unrolled as chained CTEs
  // (recursive CTEs cannot aggregate over their own recursive term).
  // VALID ONLY FOR SYMMETRIZED EDGE LISTS: each r_i groups by e.dst, so a
  // vertex with out-edges but no in-edges would silently vanish from the
  // CTE chain — here symmetrization guarantees every src is also a dst
  // (the operator itself handles source-only vertices via its left join
  // onto the full vertex set; OperatorPropertySpec pins that). Do not
  // reuse this CTE shape on a directed graph.
  row("q_pagerank", qPagerank)(
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey AS cust, 1000000 + l_suppkey AS supp
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '1-URGENT'),
        |edges AS (SELECT cust AS src, supp AS dst FROM cs
        |          UNION ALL SELECT supp, cust FROM cs),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
        |r0 AS (SELECT src AS id, 1.0 / nn.n AS rank FROM deg, nn),
        |r1 AS (SELECT e.dst AS id, 0.15 / MAX(nn.n) + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.id, nn
        |       GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS id, 0.15 / MAX(nn.n) + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON e.src = r.id, nn
        |       GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS id, 0.15 / MAX(nn.n) + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r2 r ON e.src = r.id, nn
        |       GROUP BY e.dst),
        |r4 AS (SELECT e.dst AS id, 0.15 / MAX(nn.n) + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r3 r ON e.src = r.id, nn
        |       GROUP BY e.dst),
        |r5 AS (SELECT e.dst AS id, 0.15 / MAX(nn.n) + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r4 r ON e.src = r.id, nn
        |       GROUP BY e.dst)
        |SELECT id, ROUND(rank, 8) AS rank FROM r5 ORDER BY id""".stripMargin)

  /** Label-propagation COMMUNITY DETECTION over the same staged
    * co-purchase graph as [[qPagerank]] — the third member of the
    * iterative-graph family (components find who's CONNECTED, PageRank
    * who's CENTRAL, LPA who CLUSTERS): three synchronous plurality
    * rounds with the deterministic min-label tie rule
    * ([[Components.labelPropagation]] documents why the schedule and tie
    * rule are fixed). The oracle unrolls the identical three rounds as
    * chained CTEs — the plurality argmax replayed as a
    * `row_number() OVER (ORDER BY cnt DESC, lbl ASC) = 1` window, the
    * exact order the operator's `min(struct(-cnt, lbl))` aggregate
    * encodes — so community assignments are value-checked end to end.
    * Integer counts and id comparisons only: no float portability
    * surface at all.
    */
  private def qLabelProp(s: SparkSession, d: String): DataFrame =
    Components.labelPropagation(pagerankEdges(s, d), "src", "dst", 3)
      .select(col("id"), col("lbl").as("community"))
      .orderBy("id")
  // q_label_prop: the same 3 synchronous plurality rounds unrolled as
  // chained CTEs; the argmax is replayed as a row_number window with
  // the operator's exact order (cnt DESC, lbl ASC). Same symmetrized-
  // edges caveat as q_pagerank: each round groups by e.dst.
  row("q_label_prop", qLabelProp, Headline, Scaling)(
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey AS cust, 1000000 + l_suppkey AS supp
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '1-URGENT'),
        |edges AS (SELECT cust AS src, supp AS dst FROM cs
        |          UNION ALL SELECT supp, cust FROM cs),
        |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
        |t1 AS (SELECT e.dst AS id, l.lbl, COUNT(*) AS cnt
        |       FROM edges e JOIN l0 l ON e.src = l.id GROUP BY 1, 2),
        |l1 AS (SELECT id, lbl FROM (
        |         SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id
        |           ORDER BY cnt DESC, lbl ASC) AS rn FROM t1) z
        |       WHERE rn = 1),
        |t2 AS (SELECT e.dst AS id, l.lbl, COUNT(*) AS cnt
        |       FROM edges e JOIN l1 l ON e.src = l.id GROUP BY 1, 2),
        |l2 AS (SELECT id, lbl FROM (
        |         SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id
        |           ORDER BY cnt DESC, lbl ASC) AS rn FROM t2) z
        |       WHERE rn = 1),
        |t3 AS (SELECT e.dst AS id, l.lbl, COUNT(*) AS cnt
        |       FROM edges e JOIN l2 l ON e.src = l.id GROUP BY 1, 2),
        |l3 AS (SELECT id, lbl FROM (
        |         SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id
        |           ORDER BY cnt DESC, lbl ASC) AS rn FROM t3) z
        |       WHERE rn = 1)
        |SELECT id, lbl AS community FROM l3 ORDER BY id""".stripMargin)

  /** Gap-based sessionization statistics. */
  private def qSessionize(s: SparkSession, d: String): DataFrame =
    EventsPipeline.sessionize(Tables.events(s, d))
      .groupBy(col("user_id"))
      .agg(
        max(col("session_seq")).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  row("q_sessionize", qSessionize, Anchor, Headline)(
      """WITH x AS (
        |  SELECT user_id,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                        + INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id,
        |       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** Order-independent CONTENT SIGNATURE per partition-day — the
    * anti-entropy primitive behind table sync/diff at scale: each row
    * contributes the engine-portable md5 bucket of its canonical string
    * form ([[qAbAssign]]'s first-12-hex construction), and the per-day
    * signature is the SUM of contributions — commutative and mergeable,
    * so two replicas compare a day by exchanging ONE (count, sig) pair
    * instead of rows, and an incremental writer updates the signature
    * from the delta alone. Contributions are bounded to 2⁴⁰ so bigint
    * sums hold to ~8M rows/day in ANSI mode; a 100 TB deployment lifts
    * the partial sums to DECIMAL(38,0) (the [[qDecimalSum]] seam) with
    * the same per-row math. Any single-row difference moves the sum.
    */
  private def qContentSignature(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        pmod(
          conv(substring(md5(concat_ws("|",
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long"),
            col("o_orderpriority"))), 1, 12), 16, 10).cast("long"),
          lit(1099511627776L)).as("h"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("sig"))
      .orderBy("day")
  // q_content_signature: identical md5-bucket row contribution; the
  // concat must match Spark's cast-to-string forms exactly
  row("q_content_signature", qContentSignature)(
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(('0x' || substr(md5(
        |           o_orderkey || '|' || o_custkey || '|' || o_orderstatus
        |           || '|' || CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |           || '|' || o_orderpriority), 1, 12)) AS BIGINT)
        |         % 1099511627776) AS BIGINT) AS sig
        |FROM orders GROUP BY 1 ORDER BY day""".stripMargin)

  /** Leave-one-out target encoding — the categorical feature encoder a
    * training pipeline runs where plain mean-encoding would LEAK the
    * row's own label: each row gets (Σ_group target − own) / (n_group − 1).
    * Shape: one map-side-combinable group aggregate over the tiny
    * category domain, broadcast back onto the stream — per-row arithmetic
    * from exact integer counts, one division (bit-identical), no window.
    * Singleton groups read out NULL (undefined LOO) rather than dividing
    * by zero under ANSI. Target = order completion ('F').
    */
  private def qTargetEncode(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority").as("cat"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("t"))
    val grp = base.groupBy(col("cat").as("gcat"))
      .agg(sum(col("t")).as("gsum"), count(lit(1)).as("gn"))
    base.join(broadcast(grp), col("cat") === col("gcat"))
      .select(col("o_orderkey"), col("cat"), col("t"),
        when(col("gn") > 1,
          (col("gsum") - col("t")).cast("double") /
            (col("gn") - 1L).cast("double")).as("loo_mean"))
      .orderBy("o_orderkey")
  }
  // q_target_encode: identical LOO arithmetic from the group sums
  row("q_target_encode", qTargetEncode)(
      """WITH b AS (
        |  SELECT o_orderkey, o_orderpriority AS cat,
        |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS t
        |  FROM orders
        |), g AS (
        |  SELECT cat, CAST(SUM(t) AS BIGINT) AS gsum,
        |         CAST(COUNT(*) AS BIGINT) AS gn
        |  FROM b GROUP BY cat
        |)
        |SELECT o_orderkey, b.cat, CAST(t AS BIGINT) AS t,
        |       CASE WHEN gn > 1 THEN
        |         CAST(gsum - t AS DOUBLE) / CAST(gn - 1 AS DOUBLE)
        |       END AS loo_mean
        |FROM b JOIN g ON b.cat = g.cat
        |ORDER BY o_orderkey""".stripMargin)

  /** Growth accounting — the weekly NEW / RETAINED / RESURRECTED /
    * CHURNED user decomposition under every growth dashboard (states
    * partition active users; churn counts last week's actives who went
    * dark). Shape: the event stream reduces ONCE to the distinct
    * (user, week) activity table plus per-user first weeks (both
    * map-side-combinable); states come from user-keyed self-joins of that
    * compact table — never the raw stream. Churn is counted only for
    * OBSERVED weeks (a semi-join on the week set), which bounds the grid
    * without a max-week scalar attach. All-integer arithmetic; weeks are
    * epoch-day div 7 from the fixture origin.
    */
  private def qGrowthAccounting(s: SparkSession, d: String): DataFrame = {
    val weekly = Tables.events(s, d)
      .select(col("user_id").as("u"),
        floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7)
          .cast("long").as("w"))
      .distinct()
    val firstW = weekly.groupBy("u").agg(min(col("w")).as("fw"))
    val prev = weekly.select(col("u").as("pu"), (col("w") + 1L).as("pw"))
    val states = weekly
      .join(firstW, "u")
      .join(prev, col("u") === col("pu") && col("w") === col("pw"), "left")
      .select(col("w"),
        when(col("w") === col("fw"), lit("new"))
          .when(col("pu").isNotNull, lit("retained"))
          .otherwise(lit("resurrected")).as("state"))
      .groupBy("w").pivot("state", Seq("new", "retained", "resurrected"))
      .count()
    val churned = prev
      .join(weekly, col("pu") === col("u") && col("pw") === col("w"),
        "left_anti")
      .join(weekly.select(col("w").as("ow")).distinct(),
        col("pw") === col("ow"), "left_semi")
      .groupBy(col("pw").as("w")).agg(count(lit(1)).as("churned"))
    states.join(churned, Seq("w"), "left")
      .select(col("w").as("week"),
        coalesce(col("new"), lit(0L)).as("n_new"),
        coalesce(col("retained"), lit(0L)).as("n_retained"),
        coalesce(col("resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("churned"), lit(0L)).as("n_churned"))
      .orderBy("week")
  }
  // q_growth_accounting: states replayed with window functions; churn
  // only for observed weeks
  row("q_growth_accounting", qGrowthAccounting)(
      """WITH weekly AS (
        |  SELECT DISTINCT user_id AS u,
        |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
        |           AS w
        |  FROM events
        |), fw AS (SELECT u, MIN(w) AS fw FROM weekly GROUP BY u),
        |st AS (
        |  SELECT wk.w,
        |         CASE WHEN wk.w = fw.fw THEN 'new'
        |              WHEN p.u IS NOT NULL THEN 'retained'
        |              ELSE 'resurrected' END AS state
        |  FROM weekly wk
        |  JOIN fw ON wk.u = fw.u
        |  LEFT JOIN weekly p ON p.u = wk.u AND p.w = wk.w - 1
        |), agg AS (
        |  SELECT w,
        |    CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_retained,
        |    CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_resurrected
        |  FROM st GROUP BY w
        |), ch AS (
        |  SELECT p.w + 1 AS w, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM weekly p
        |  LEFT JOIN weekly c ON c.u = p.u AND c.w = p.w + 1
        |  WHERE c.u IS NULL AND p.w + 1 IN (SELECT w FROM weekly)
        |  GROUP BY 1
        |)
        |SELECT agg.w AS week, n_new, n_retained, n_resurrected,
        |       COALESCE(ch.n_churned, 0) AS n_churned
        |FROM agg LEFT JOIN ch ON agg.w = ch.w
        |ORDER BY week""".stripMargin)

  /** Native `session_window` sessionization — the same 30-minute-gap
    * sessions as [[qSessionize]]'s manual gaps-and-islands window, through
    * Spark's built-in session aggregation (plans as a dedicated
    * session-merging aggregate, no lag window) — the cross-mechanism pin
    * (the [[qRecursiveCte]] discipline). SEMANTIC BOUNDARY NOTE, which is
    * exactly what this row documents: a session window spans
    * [first, last + gap), so an event at EXACTLY last + gap starts a NEW
    * session (`>=`), while the manual lag formulation extends on `>` —
    * the oracle replays `>=`, and a corpus with exact-gap timestamps
    * would tell the two rows apart.
    */
  private def qSessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
      .orderBy("user_id")
  // q_session_window: >= at the gap boundary (session spans
  // [first, last+gap)) — vs q_sessionize's manual > formulation
  row("q_session_window", qSessionWindow)(
      """WITH x AS (
        |  SELECT user_id,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                        + INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id,
        |       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** SLIDING (hopping) event-time windows — 1-hour windows every 30
    * minutes, the overlapping-window shape [[qEventsWindow]]'s tumbling
    * row cannot express (each event lands in exactly two windows; Spark's
    * `window(ts, size, slide)` plans it as a generator, no self-join). The
    * oracle replays the same membership with integer epoch-µs arithmetic:
    * slot = µs DIV slide, the two window starts are slot·30min and its
    * predecessor — exact at any timestamp precision.
    */
  private def qSlidingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")
  // q_sliding_window: every event lands in exactly two 1h/30min hopping
  // windows; integer epoch-µs slot arithmetic replays the membership
  row("q_sliding_window", qSlidingWindow)(
      """WITH x AS (
        |  SELECT epoch_us(ts) // 1800000000 AS slot, event_type, value
        |  FROM events),
        |w AS (
        |  SELECT slot * 1800 AS window_start, event_type, value FROM x
        |  UNION ALL
        |  SELECT (slot - 1) * 1800, event_type, value FROM x)
        |SELECT window_start, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Robust (IQR-fence) outlier counts per event type — the Tukey-fence
    * data-cleaning gate run before metrics ingestion: exact q1/q3 via the
    * `percentile` aggregate (linear interpolation, the same definition as
    * DuckDB's `quantile_cont`), fences at 1.5·IQR, one broadcast-sized
    * stats row per group joined back onto the scan. Fences and counts are
    * both emitted so the oracle pins the bounds arithmetic, not just the
    * classification.
    */
  private def qIqrOutliers(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.25D, 0.75D))").as("q"))
      .select(
        col("event_type"),
        col("q").getItem(0).as("q1"),
        col("q").getItem(1).as("q3"))
      .select(
        col("event_type"),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
    Tables.events(s, d)
      .join(broadcast(stats), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(max(col("lo")), 6).as("lo"),
        round(max(col("hi")), 6).as("hi"))
      .orderBy("event_type")
  }
  // q_iqr_outliers: quantile_cont == Spark percentile (same linear
  // interpolation); classification on UNROUNDED fences in both engines
  row("q_iqr_outliers", qIqrOutliers)(
      """WITH s AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1,
        |         quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type),
        |f AS (SELECT event_type, q1 - (q3 - q1) * 1.5 AS lo,
        |             q3 + (q3 - q1) * 1.5 AS hi
        |      FROM s)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       ROUND(MAX(f.lo), 6) AS lo, ROUND(MAX(f.hi), 6) AS hi
        |FROM events e JOIN f USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** First-order Markov transition matrix over each user's ordered event
    * stream — the "what happens next" model behind session-path analysis
    * and synthetic-trace generation. One user_id-keyed window computes the
    * predecessor type (ties broken by event_id, so both engines see the
    * same ordering); counts and row-normalized probabilities then reduce
    * onto the (src,dst) grid — wide state is |event_type|² cells
    * regardless of stream length, and the only full-data shuffle is keyed
    * on user_id. The per-src totals are a broadcast-sized side table.
    */
  private def qMarkov(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy("src").agg(sum(col("n")).as("n_src"))
    tr.join(broadcast(tot), "src")
      .select(
        col("src"), col("dst"), col("n"),
        round(col("n") / col("n_src"), 6).as("p"))
      .orderBy("src", "dst")
  }
  // q_markov: lag over (user_id, ts, event_id) — identical tie-break in
  // both engines; integer / integer is float division in both
  row("q_markov", qMarkov)(
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS src,
        |         event_type AS dst
        |  FROM events),
        |c AS (SELECT src, dst, COUNT(*) AS n FROM t
        |      WHERE src IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT src, SUM(n) AS n_src FROM c GROUP BY 1)
        |SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
        |       ROUND(c.n / s.n_src, 6) AS p
        |FROM c JOIN s USING (src) ORDER BY 1, 2""".stripMargin)

  /** Pearson chi-squared drift monitor over a categorical column — the
    * discrete complement to [[qKsDrift]] (numeric, KS) and [[qPsiDrift]]
    * (binned, PSI): contingency cells of event_type × time-half with
    * expected counts from the marginals. The reference period is the first
    * half of the stream by midpoint timestamp (integer-µs arithmetic, so
    * the split is reproducible in any engine). Emits every cell with its
    * expected count and chi-squared contribution — the statistic is the
    * contribution sum, and pinning the cells oracles the marginal algebra,
    * not just one scalar. Shapes: one scan → compact cell grid; marginals
    * and the 1-row midpoint/total attach via broadcast.
    */
  private def qChi2Drift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .select(
        col("event_type"),
        when(col("us") < col("mid"), lit("a")).otherwise(lit("b")).as("period"))
      .groupBy("event_type", "period")
      .agg(count(lit(1)).as("n"))
    val rowT = cells.groupBy("event_type").agg(sum(col("n")).as("rt"))
    val colT = cells.groupBy("period").agg(sum(col("n")).as("ct"))
    val g = cells.agg(sum(col("n")).as("gt"))
    cells
      .join(broadcast(rowT), "event_type")
      .join(broadcast(colT), "period")
      .crossJoin(broadcast(g))
      .select(
        col("event_type"), col("period"), col("n"),
        round(col("rt") * col("ct") / col("gt"), 6).as("expected"),
        round(
          pow(col("n") - col("rt") * col("ct") / col("gt"), 2) /
            (col("rt") * col("ct") / col("gt")), 6).as("contrib"))
      .orderBy("event_type", "period")
  }
  // q_chi2_drift: midpoint split on integer epoch-µs ((mn+mx) // 2 ==
  // Spark's `div` on positive longs); expected counts from marginals
  row("q_chi2_drift", qChi2Drift)(
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e),
        |c AS (SELECT event_type,
        |             CASE WHEN us < (SELECT mid FROM m) THEN 'a'
        |                  ELSE 'b' END AS period,
        |             COUNT(*) AS n
        |      FROM e GROUP BY 1, 2),
        |rt AS (SELECT event_type, SUM(n) AS rt FROM c GROUP BY 1),
        |ct AS (SELECT period, SUM(n) AS ct FROM c GROUP BY 1),
        |g AS (SELECT SUM(n) AS gt FROM c)
        |SELECT c.event_type, c.period, CAST(c.n AS BIGINT) AS n,
        |       ROUND(rt.rt * ct.ct / g.gt, 6) AS expected,
        |       ROUND(POW(c.n - rt.rt * ct.ct / g.gt, 2)
        |             / (rt.rt * ct.ct / g.gt), 6) AS contrib
        |FROM c JOIN rt USING (event_type) JOIN ct USING (period) CROSS JOIN g
        |ORDER BY 1, 2""".stripMargin)

  /** Market-basket co-occurrence: support counts of part pairs bought in
    * the same order — the association-mining primitive (and the same
    * within-group pair-expansion shape as recommendation co-visitation).
    * The self-join is keyed on the basket id, so the single shuffle moves
    * (order, part) once and the quadratic blow-up is bounded by the basket
    * size (≤7 lines in this schema; a 100 TB run caps basket size or
    * pre-filters to frequent items first — the standard a-priori
    * reduction). `p1 < p2` keeps each unordered pair once.
    */
  private def qBasketPairs(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.select(col("ok"), col("pk").as("p1"))
      .join(li.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(50)
  }
  // q_basket_pairs: unordered pair kept once via p1 < p2; support-desc
  // top-50 with (p1, p2) tie-break is a deterministic cutoff
  row("q_basket_pairs", qBasketPairs)(
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem)
        |SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS support
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY support DESC, p1, p2 LIMIT 50""".stripMargin)

  /** SCD type-2 dimension build from the event stream: each user's
    * event_type state history as validity intervals — the point-in-time
    * dimension every warehouse derives from a mutation log. Consecutive
    * duplicates collapse (a row opens only when the state CHANGES), the
    * open row carries the 9999-12-31 sentinel end. Two windows over the
    * same user_id partitioning → one shuffle; ordering ties broken by
    * event_id so both engines agree on the change sequence.
    */
  private def qScd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val changes = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .withColumn("nxt", lead(unix_micros(col("ts")), 1).over(w))
      .select(
        col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from_us"),
        coalesce(col("nxt"), lit(253402300799000000L)).as("valid_to_us"))
      .orderBy("user_id", "valid_from_us", "event_type")
  }
  // q_scd2: change rows via lag over (ts, event_id); open interval ends
  // at the 9999-12-31 23:59:59 sentinel (253402300799000000 µs)
  row("q_scd2", qScd2)(
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, ts, event_id, event_type FROM o
        |       WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, epoch_us(ts) AS valid_from_us,
        |       COALESCE(lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                         ORDER BY ts, event_id),
        |                253402300799000000) AS valid_to_us
        |FROM ch ORDER BY user_id, valid_from_us, event_type""".stripMargin)

  /** Winsorized per-group statistics — the clip-then-aggregate
    * normalization run before feeding a metric to training (clamp to
    * [p01, p99], then mean/stddev): exact percentiles via the same
    * linear-interpolation `percentile` aggregate as [[qIqrOutliers]], one
    * broadcast stats row per group, clamping inline in the second scan so
    * nothing wide ever shuffles.
    */
  private def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.01D, 0.99D))").as("q"))
      .select(
        col("event_type"),
        col("q").getItem(0).as("lo"),
        col("q").getItem(1).as("hi"))
    Tables.events(s, d)
      .join(broadcast(stats), "event_type")
      .select(
        col("event_type"),
        greatest(col("lo"), least(col("hi"), col("value"))).as("w"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("w")), 6).as("wmean"),
        round(stddev_samp(col("w")), 6).as("wstd"))
      .orderBy("event_type")
  }
  // q_winsorize: quantile_cont == Spark percentile (proven by
  // q_iqr_outliers); clamp on UNROUNDED bounds in both engines
  row("q_winsorize", qWinsorize)(
      """WITH s AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.01) AS lo,
        |         quantile_cont(value, 0.99) AS hi
        |  FROM events GROUP BY event_type),
        |w AS (SELECT e.event_type,
        |             GREATEST(s.lo, LEAST(s.hi, e.value)) AS w
        |      FROM events e JOIN s USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(AVG(w), 6) AS wmean,
        |       ROUND(STDDEV_SAMP(w), 6) AS wstd
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Deterministic A/B experiment assignment + readout: users hash into
    * two arms via the engine-portable md5 bucket (the same first-12-hex
    * construction as [[graft.ext.Sampling]]'s portable splits, so any SQL
    * engine reproduces the assignment bit-for-bit — the property an
    * experimentation system needs for audits), then per-arm × event-type
    * counts and mean values. Assignment is a stateless per-row expression:
    * no shuffle beyond the final compact readout group-by.
    */
  private def qAbAssign(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long"),
      lit(1000000L))
    Tables.events(s, d)
      .withColumn("arm", when(bucket < 500000L, lit("a")).otherwise(lit("b")))
      .groupBy("arm", "event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(avg(col("value")), 6).as("mean_value"))
      .orderBy("arm", "event_type")
  }
  // q_ab_assign: same portable md5 bucket as q_split_counts (first 12
  // hex chars as integer mod 1e6); arm cut at bucket < 500000
  row("q_ab_assign", qAbAssign)(
      """SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |                                      1, 12)) AS BIGINT)
        |                  % 1000000 < 500000
        |            THEN 'a' ELSE 'b' END AS arm,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       ROUND(AVG(value), 6) AS mean_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic marketing feature triple, each dimension cut into ANSI-ntile
    * quintiles. Per-customer base facts are one map-side-combinable
    * group-by; the three quintile cuts ride ONE distributed global rank
    * ([[PositionalTake.withGlobalIndex]] — range-partition sort +
    * per-partition offsets, never a single-partition ntile window) over
    * the long-format (metric, −value, cust) rows, with the ANSI bucket
    * split (first n%k buckets one row larger) replayed in closed form
    * from (rank − metric·n, n). Descending dimensions sort ascending on
    * the negated metric; ties break on customer id, so the cut is
    * deterministic and any engine's native ntile reproduces it. Output is
    * the ≤5³-cell segment grid, independent of customer count.
    */
  private def qRfm(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("cust"))
      .agg(
        // o_orderdate loads as TIMESTAMP_NTZ; the session is pinned UTC so
        // the cast to TIMESTAMP is wall-clock identity (same as Tables.events)
        unix_micros(max(col("o_orderdate")).cast("timestamp")).as("last_us"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice")).as("mon"))
    // LONG FORMAT, one sort instead of three (r19 optimization): the three
    // descending quintile cuts ride ONE range-partitioned global index over
    // (metric, −value, cust) — per metric the block is contiguous and its
    // local rank is idx − metric·n, so the old shape's three independent
    // sort+index pipelines (each re-aggregating orders, each crossJoining
    // its own count subtree) and the two cust-keyed joins collapse into one
    // sort plus one conditional-aggregation pivot. The negated metrics stay
    // order-exact as doubles (epoch-µs ≈ 1.7e15 and counts are < 2^53, and
    // only the ORDER reaches the output, never the value). Ordering per
    // metric is unchanged — (−metric, cust) — so every bucket assignment,
    // and therefore the ≤5³ grid, is bit-identical to the three-sort shape.
    val long = base.select(col("cust"), explode(array(
        struct(lit(0).as("m"), (-col("last_us")).cast("double").as("v")),
        struct(lit(1).as("m"), (-col("freq")).cast("double").as("v")),
        struct(lit(2).as("m"), (-col("mon")).cast("double").as("v"))))
        .as("mv"))
      .select(col("cust"), col("mv.m").as("m"), col("mv.v").as("v"))
    val n = base.agg(count(lit(1)).as("n_tot"))
    // ANSI ntile from a dense 0-based per-metric rank: first n%5 buckets
    // hold (n div 5)+1 rows, the rest n div 5 (assumes n >= 5).
    PositionalTake.withGlobalIndex(long, Seq("m", "v", "cust"), "gidx")
      .crossJoin(broadcast(n))
      .select(
        col("cust"), col("m"),
        expr("CASE WHEN (gidx - m * n_tot) < (n_tot % 5) * (n_tot div 5 + 1) " +
          "THEN (gidx - m * n_tot) div (n_tot div 5 + 1) + 1 " +
          "ELSE (n_tot % 5) + ((gidx - m * n_tot) - (n_tot % 5) * (n_tot div 5 + 1)) " +
          "div (n_tot div 5) + 1 END").as("q"))
      .groupBy("cust")
      .agg(
        max(when(col("m") === 0, col("q"))).as("r_q"),
        max(when(col("m") === 1, col("q"))).as("f_q"),
        max(when(col("m") === 2, col("q"))).as("m_q"))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_custs"))
      .orderBy("r_q", "f_q", "m_q")
  }
  // q_rfm: DuckDB's native ntile over (metric DESC, cust) replays the
  // engine's closed-form ANSI split from the distributed global rank
  row("q_rfm", qRfm, Headline)(
      """WITH base AS (
        |  SELECT o_custkey AS cust,
        |         epoch_us(MAX(o_orderdate)) AS last_us,
        |         COUNT(*) AS freq,
        |         SUM(o_totalprice) AS mon
        |  FROM orders GROUP BY 1),
        |seg AS (
        |  SELECT cust,
        |         ntile(5) OVER (ORDER BY last_us DESC, cust) AS r_q,
        |         ntile(5) OVER (ORDER BY freq DESC, cust) AS f_q,
        |         ntile(5) OVER (ORDER BY mon DESC, cust) AS m_q
        |  FROM base)
        |SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_custs
        |FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)

  /** Cohort LTV curve: customers cohorted by first-order month, revenue
    * accumulated by month offset since the cohort month — the
    * lifetime-value table under every retention dashboard. Month math is
    * integer (year·12+month), identical in any engine. Two shuffles, both
    * keyed small (customer, then cohort×offset grid); the running total is
    * a window over the compact grid, not the order stream.
    */
  private def qCohortLtv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select(
      col("o_custkey").as("cust"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
      col("o_totalprice").as("rev"))
    val cohort = o.groupBy("cust").agg(min(col("m")).as("cm"))
    val grid = o.join(cohort, "cust")
      .groupBy(col("cm"), (col("m") - col("cm")).as("offset"))
      .agg(sum(col("rev")).as("rev"), countDistinct(col("cust")).as("n_custs"))
    grid
      .withColumn("cum_rev", sum(col("rev")).over(
        Window.partitionBy("cm").orderBy("offset")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(
        col("cm").as("cohort_month"), col("offset"), col("n_custs"),
        round(col("rev"), 4).as("rev"),
        round(col("cum_rev"), 4).as("cum_rev"))
      .orderBy("cohort_month", "offset")
  }
  // q_cohort_ltv: integer month index (year*12+month) — no interval
  // arithmetic to diverge; running total over the compact cohort grid
  row("q_cohort_ltv", qCohortLtv)(
      """WITH o AS (
        |  SELECT o_custkey AS cust,
        |         year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |         o_totalprice AS rev
        |  FROM orders),
        |c AS (SELECT cust, MIN(m) AS cm FROM o GROUP BY 1),
        |g AS (SELECT c.cm, o.m - c.cm AS "offset",
        |             SUM(o.rev) AS rev, COUNT(DISTINCT o.cust) AS n_custs
        |      FROM o JOIN c USING (cust) GROUP BY 1, 2)
        |SELECT cm AS cohort_month, "offset",
        |       CAST(n_custs AS BIGINT) AS n_custs,
        |       ROUND(rev, 4) AS rev,
        |       ROUND(SUM(rev) OVER (PARTITION BY cm ORDER BY "offset"
        |                            ROWS UNBOUNDED PRECEDING), 4) AS cum_rev
        |FROM g ORDER BY 1, 2""".stripMargin)

  /** Exponentially time-decayed engagement score per user (30-day
    * half-life, anchored at the stream's max timestamp) — the
    * recency-weighted feature a feature store materializes instead of a
    * raw sum. The anchor is a broadcast 1-row attach; the decay is a
    * stateless per-row expression, so the whole feature is one scan + one
    * user-keyed reduce. Top-25 by score with id tie-break keeps the row
    * deterministic.
    */
  private def qDecayScore(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
    val anchor = ev.agg(max(col("us")).as("max_us"))
    ev.crossJoin(broadcast(anchor))
      .select(
        col("user_id"),
        (col("value") *
          exp(lit(-math.log(2.0) / 30.0) *
            ((col("max_us") - col("us")) / lit(86400000000.0)))).as("dv"))
      .groupBy("user_id")
      .agg(round(sum(col("dv")), 4).as("score"), count(lit(1)).as("n"))
      .orderBy(col("score").desc, col("user_id"))
      .limit(25)
  }
  // q_decay_score: exp/ln differ by at most 1 ulp per term between
  // libm and the JVM; round(4) over O(100)-term sums absorbs it
  row("q_decay_score", qDecayScore)(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |a AS (SELECT MAX(us) AS max_us FROM e)
        |SELECT user_id,
        |       ROUND(SUM(value * exp(-ln(2) / 30.0
        |                             * ((a.max_us - us) / 86400000000.0))),
        |             4) AS score,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM e CROSS JOIN a
        |GROUP BY user_id
        |ORDER BY score DESC, user_id LIMIT 25""".stripMargin)

  /** MAD (median-absolute-deviation) robust outliers per event type — the
    * heavier-tailed companion to [[qIqrOutliers]]: median via the exact
    * `percentile` aggregate, MAD as the median of absolute deviations
    * (second percentile pass over the broadcast-joined scan), outliers at
    * modified z-score |0.6745·(x−med)/mad| > 3.5. Group stats stay
    * broadcast-sized at any scale; the data shuffles only into the two
    * per-group percentile reduces.
    */
  private def qMadOutliers(s: SparkSession, d: String): DataFrame = {
    val med = Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val withDev = Tables.events(s, d)
      .join(broadcast(med), "event_type")
    val mad = withDev
      .groupBy("event_type")
      .agg(expr("percentile(abs(value - med), 0.5D)").as("mad"))
    withDev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(
          abs(lit(0.6745) * (col("value") - col("med")) / col("mad")) > 3.5,
          1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }
  // q_mad_outliers: two exact-median passes (quantile_cont == Spark
  // percentile); classification on UNROUNDED med/mad in both engines
  row("q_mad_outliers", qMadOutliers)(
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |         quantile_cont(abs(e.value - med.med), 0.5) AS mad
        |  FROM events e JOIN med USING (event_type) GROUP BY 1)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(MAX(med.med), 6) AS med,
        |       ROUND(MAX(mad.mad), 6) AS mad,
        |       CAST(SUM(CASE WHEN abs(0.6745 * (e.value - med.med) / mad.mad)
        |                          > 3.5
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Time-to-conversion: signup → first subsequent purchase latency
    * distribution — the funnel-velocity metric next to [[qFunnel]]'s
    * stage counts. Both stage timestamps are per-user min-reduces (map-side
    * combinable), the join is user-keyed, and the output is one row of
    * exact quartiles (hours) plus conversion counts; the two scalar
    * aggregates meet in a 1-row broadcast attach.
    */
  private def qTimeToEvent(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("us") >= col("s_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"), max(col("s_us")).as("s_us"))
      .select(((col("p_us") - col("s_us")) / lit(3600000000.0)).as("hours"))
    val nSignups = su.agg(count(lit(1)).as("n_signups"))
    conv.agg(
        count(lit(1)).as("n_converted"),
        expr("percentile(hours, array(0.25D, 0.5D, 0.75D))").as("q"))
      .crossJoin(broadcast(nSignups))
      .select(
        col("n_signups"), col("n_converted"),
        round(col("q").getItem(0), 6).as("p25_h"),
        round(col("q").getItem(1), 6).as("p50_h"),
        round(col("q").getItem(2), 6).as("p75_h"))
  }
  // q_time_to_event: first purchase at-or-after first signup; exact
  // quartiles of the latency in hours
  row("q_time_to_event", qTimeToEvent)(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |su AS (SELECT user_id, MIN(us) AS s_us FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |cv AS (SELECT e.user_id,
        |              (MIN(e.us) - MAX(su.s_us)) / 3600000000.0 AS hours
        |       FROM e JOIN su USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.us >= su.s_us
        |       GROUP BY 1)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM su) AS n_signups,
        |       CAST(COUNT(*) AS BIGINT) AS n_converted,
        |       ROUND(quantile_cont(hours, 0.25), 6) AS p25_h,
        |       ROUND(quantile_cont(hours, 0.5), 6) AS p50_h,
        |       ROUND(quantile_cont(hours, 0.75), 6) AS p75_h
        |FROM cv""".stripMargin)

  /** Week-over-week growth per event type — the period-over-period metric
    * sheet every KPI pipeline emits: weekly counts/sums on the compact
    * (type × week) grid, growth as a lag over that grid. The full stream
    * reduces map-side into the grid before any window; the window itself
    * runs over rows-per-key = weeks, never raw events.
    */
  private def qWowGrowth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wk = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("wk"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    val w = Window.partitionBy("event_type").orderBy("wk")
    wk.withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(
        col("event_type"), unix_timestamp(col("wk")).as("week_start"),
        col("n"), col("sum_value"),
        round((col("n") - col("prev_n")) / col("prev_n"), 6).as("wow_growth"))
      .orderBy("event_type", "week_start")
  }
  // q_wow_growth: Monday-start date_trunc('week') in both engines;
  // first week's growth is NULL in both
  row("q_wow_growth", qWowGrowth)(
      """WITH wk AS (
        |  SELECT event_type, date_trunc('week', ts) AS wk,
        |         COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, epoch_us(wk) // 1000000 AS week_start,
        |       CAST(n AS BIGINT) AS n, sum_value,
        |       ROUND((n - lag(n) OVER (PARTITION BY event_type ORDER BY wk))
        |             / lag(n) OVER (PARTITION BY event_type ORDER BY wk),
        |             6) AS wow_growth
        |FROM wk ORDER BY 1, 2""".stripMargin)

  /** Data-profiling audit: per-column row/null/distinct counts over
    * lineitem — the schema-wide quality report a pipeline runs on every
    * new drop. One narrow aggregate per column, unioned (the [[qSketches]]
    * two-level decomposition): each branch's parquet scan reads exactly
    * ONE column (pruned ReadSchema), collapses onto that column's compact
    * distinct domain with map-side combine, then reduces to a single
    * profile row. The previous single-pass form exploded every row into
    * stringified (column, value) pairs — an N×width row expansion dragging
    * full-width string casts through one shuffle; the per-column branches
    * shuffle only (value, count) partials and run as independent stages.
    */
  private def qDataProfile(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.columns.toSeq.sorted
      .map { c =>
        li.select(col(c).as("v"))
          .groupBy("v").agg(count(lit(1)).as("cnt"))
          .agg(
            // coalesce: an empty input must profile as n=0 per column (the
            // oracle's COUNT(*) branches emit one row each), not n=NULL
            coalesce(sum(col("cnt")), lit(0L)).as("n"),
            coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
              .as("n_nulls"),
            count(when(col("v").isNotNull, lit(1))).as("n_distinct"))
          .select(lit(c).as("col_name"),
            col("n"), col("n_nulls"), col("n_distinct"))
      }
      .reduce(_ unionAll _)
      .orderBy("col_name")
  }
  // q_data_profile: COUNT(DISTINCT raw) == the engine's distinct on the
  // per-column string cast (injective per column); one branch per column
  row("q_data_profile", qDataProfile)(Seq(
        "l_discount", "l_extendedprice", "l_linenumber", "l_linestatus",
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
        "l_shipdate", "l_suppkey", "l_tax")
      .map(c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM lineitem""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))

  /** Per-dimension statistics of the embedding column (min/max/mean/std
    * for each vector coordinate) — the feature-normalization profile an
    * ANN or training pipeline computes before scaling. `posexplode` keys
    * the shuffle on the dimension index, so state per reducer is one
    * running moment set per dimension regardless of corpus size.
    */
  private def qEmbedStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        round(min(col("x")), 6).as("mn"),
        round(max(col("x")), 6).as("mx"),
        round(avg(col("x")), 6).as("mean"),
        round(stddev_samp(col("x")), 6).as("std"))
      .orderBy("dim")
  // q_embed_stats: generate_subscripts/unnest stay positionally aligned
  // in DuckDB; float → double cast is exact in both engines
  row("q_embed_stats", qEmbedStats)(
      """WITH x AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(MIN(x), 6) AS mn, ROUND(MAX(x), 6) AS mx,
        |       ROUND(AVG(x), 6) AS mean, ROUND(STDDEV_SAMP(x), 6) AS std
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Cross-source duplicate-overlap matrix: how many 64-char-prefix
    * fingerprints each pair of sources shares — the contamination heat map
    * a corpus audit draws before choosing dedup scope (exact texts never
    * collide across sources in this corpus; the prefix fingerprint is the
    * boilerplate-header detector). The self-join is keyed on the
    * fingerprint, and the per-fingerprint blow-up is bounded by the SOURCE
    * count (the distinct collapses each source to one row per
    * fingerprint), so the shape survives any corpus size.
    */
  private def qOverlapMatrix(s: SparkSession, d: String): DataFrame = {
    val h = Tables.documents(s, d)
      .select(col("source"), md5(substring(col("text"), 1, 64)).as("fp"))
      .distinct()
    h.as("a").join(h.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }
  // q_overlap_matrix: md5 over the identical UTF-8 prefix bytes; source
  // pair kept once via a.source < b.source
  row("q_overlap_matrix", qOverlapMatrix)(
      """WITH h AS (SELECT DISTINCT source, md5(substr(text, 1, 64)) AS fp
        |           FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM h a JOIN h b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** 2-D skyline (Pareto frontier): parts not dominated on (minimize
    * price, maximize size) — the multi-objective shortlist operator
    * (cheapest-per-capability). Decomposition: collapse to the per-price
    * grid (one max-size per distinct price — the only full-data shuffle),
    * run the strictly-cheaper prefix-max over that COMPACT grid (the
    * [[qKsDrift]] ECDF precedent: the window is over grid rows, never raw
    * data), then one broadcast probe back. A part survives iff its size
    * beats every strictly-cheaper price's max and equals its own price's
    * max — exactly the ¬∃-dominator definition the oracle replays
    * quadratically.
    */
  private def qSkyline(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(s, d).select(
      col("p_partkey"), col("p_retailprice").as("price"), col("p_size").as("size"))
    val grid = p.groupBy("price").agg(max(col("size")).as("pmax"))
    val w = Window.orderBy("price")
      .rowsBetween(Window.unboundedPreceding, -1)
    val gridPrev = grid.withColumn("prev_max", max(col("pmax")).over(w))
    p.join(broadcast(gridPrev), "price")
      .filter(
        (col("prev_max").isNull || col("size") > col("prev_max")) &&
          col("size") === col("pmax"))
      .select(col("p_partkey"), col("price"), col("size"))
      .orderBy("price", "size", "p_partkey")
  }
  // q_skyline: ¬∃-dominator definition replayed quadratically — the
  // engine's grid prefix-max must produce the identical frontier
  row("q_skyline", qSkyline)(
      """WITH p AS (SELECT p_partkey, p_retailprice AS price, p_size AS size
        |           FROM part)
        |SELECT p_partkey, price, size FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price <= a.price AND b.size >= a.size
        |    AND (b.price < a.price OR b.size > a.size))
        |ORDER BY price, size, p_partkey""".stripMargin)

  /** CDC-style snapshot diff: two deterministic derivations of the event
    * log stand in for corpus v1/v2, and the diff classifies every key as
    * added / removed / changed / unchanged with net value drift — the
    * what-changed audit run between dataset versions. One co-keyed
    * full-outer join (sort-merge on the id at scale), classification
    * inline; the v2 mutation is `value + 1` — an IEEE-exact double op, so
    * both engines agree bit-for-bit on the changed set.
    */
  private def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("value"))
    val v1 = ev.filter(pmod(col("event_id"), lit(10)) =!= 0)
      .select(col("event_id"), col("value").as("v1"))
    val v2 = ev.filter(pmod(col("event_id"), lit(13)) =!= 0)
      .select(
        col("event_id"),
        when(pmod(col("event_id"), lit(7)) === 0, col("value") + 1.0)
          .otherwise(col("value")).as("v2"))
    v1.join(v2, Seq("event_id"), "full_outer")
      .select(
        when(col("v1").isNull, lit("added"))
          .when(col("v2").isNull, lit("removed"))
          .when(col("v1") =!= col("v2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("v2"), lit(0.0)) - coalesce(col("v1"), lit(0.0)))
      .toDF("status", "delta")
      .groupBy("status")
      .agg(count(lit(1)).as("n"), round(sum(col("delta")), 4).as("net_delta"))
      .orderBy("status")
  }
  // q_snapshot_diff: v2's mutation is value + 1 — IEEE-exact in both
  // engines, so the changed-set classification is bitwise identical
  row("q_snapshot_diff", qSnapshotDiff)(
      """WITH v1 AS (SELECT event_id, value AS v1 FROM events
        |            WHERE event_id % 10 <> 0),
        |v2 AS (SELECT event_id,
        |              CASE WHEN event_id % 7 = 0 THEN value + 1
        |                   ELSE value END AS v2
        |       FROM events WHERE event_id % 13 <> 0),
        |j AS (SELECT CASE WHEN v1.v1 IS NULL THEN 'added'
        |                  WHEN v2.v2 IS NULL THEN 'removed'
        |                  WHEN v1.v1 <> v2.v2 THEN 'changed'
        |                  ELSE 'unchanged' END AS status,
        |             COALESCE(v2.v2, 0) - COALESCE(v1.v1, 0) AS delta
        |      FROM v1 FULL OUTER JOIN v2 USING (event_id))
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(SUM(delta), 4) AS net_delta
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Dataset card: the one-row corpus summary (docs, languages, sources,
    * chars, whitespace tokens, exact-unique ratio) published alongside a
    * training-data release. Three narrow passes instead of one
    * multi-distinct aggregate — a 3-way distinct over (lang, source,
    * md5(text)) would Expand the scan 4× and drag full text through the
    * shuffle (the [[qSketches]] lesson); here each distinct reduces its
    * own compact column and the 1-row results meet in broadcast attaches.
    */
  private def qDatasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      round(avg(col("n_chars")), 4).as("mean_chars"),
      sum(size(tokens(col("text"))).cast("long")).as("total_tokens"))
    val dims = docs.agg(
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    val uniq = docs.agg(countDistinct(md5(col("text"))).as("n_unique"))
    base.crossJoin(broadcast(dims)).crossJoin(broadcast(uniq))
      .select(
        col("n_docs"), col("n_langs"), col("n_sources"),
        col("total_chars"), col("mean_chars"), col("total_tokens"),
        round(col("n_unique") / col("n_docs"), 6).as("unique_ratio"))
  }
  // q_dataset_card: single-select aggregate card; unique ratio over the
  // md5 text digest; same whitespace tokenization as q_tfidf
  row("q_dataset_card", qDatasetCard)(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       ROUND(AVG(n_chars), 4) AS mean_chars,
        |       CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                                x -> len(x) > 0))) AS BIGINT)
        |         AS total_tokens,
        |       ROUND(COUNT(DISTINCT md5(text)) * 1.0 / COUNT(*), 6)
        |         AS unique_ratio
        |FROM documents""".stripMargin)

  /** ROC AUC of the event value as a purchase-vs-rest score, by the
    * Mann–Whitney rank identity — the offline model-quality readout a
    * training pipeline runs on every scored snapshot. The rank interval of
    * each distinct score comes from an aggregate-then-prefix decomposition:
    * per-value (positives, count) first, then an exclusive prefix sum over
    * the value order via [[graft.operators.PrefixSum.exclusive]] with
    * fixed-width value buckets — segmented, so no single-partition
    * cumulative window exists at any scale (only bucket totals cross the
    * carry window), and nothing row-sized is ever range-shuffled: the one
    * full-width exchange is the map-side-combined groupBy(value).
    * Ties get the standard midrank half credit from the per-value
    * rank interval [lo, lo+m−1]: 2·ΣR⁺ = Σ p·(2·lo + m + 1), then
    * 2·U = 2·ΣR⁺ − n⁺(n⁺+1). Every sum is an exact integer until the one
    * final division, identically in both engines.
    */
  private def qAuc(s: SparkSession, d: String): DataFrame = {
    // r19 optimization: the rank identity only ever consumed the PER-VALUE
    // rank interval (min idx, max idx), so the row-level global index —
    // a full range-shuffle + zipWithIndex double pass over every event,
    // followed by a second full-size groupBy(value) shuffle — is replaced
    // by aggregate-then-prefix: reduce to (value, p, m) first (map-side
    // combine, the only full-width shuffle), then lo = Σ m over values
    // strictly below via the segmented prefix sum (fixed-width value
    // buckets, the [[qRankTest]] contract — only bucket totals cross the
    // carry window). lo' = exclusive prefix = old min(idx), and
    // hi = lo + m − 1 gives p·(lo+hi+2) = p·(2·lo + m + 1): every sum is
    // the same exact integer as the ranked shape, bit-identical AUC.
    // PRECONDITION (ADVICE r19): scores must be non-NULL and non-NaN.
    // floor(NULL) buckets to NULL (the carry inner-join drops the rows)
    // and floor(NaN) casts to 0L while NaN sorts above every double,
    // breaking the bucket-monotone contract — either skews n_pos/n_neg.
    // events.value is generated NOT NULL / finite at every SF (the
    // differential pins it); a production caller scoring nullable model
    // output must filter `value IS NOT NULL AND NOT isnan(value)` first,
    // the same precondition the old ranked shape implicitly relied on for
    // a defined order.
    val perValue = Tables.events(s, d)
      .select(col("value"),
        (col("event_type") === "purchase").cast("long").as("pos"))
      .groupBy("value")
      .agg(sum(col("pos")).as("p"), count(lit(1)).as("m"))
    PrefixSum.exclusive(
        perValue, floor(col("value")), Seq(col("value")), col("m"), "lo")
      .agg(
        sum(col("p")).as("n_pos"),
        sum(col("m") - col("p")).as("n_neg"),
        sum(col("p") * (lit(2L) * col("lo") + col("m") + 1)).as("r2"))
      .select(
        col("n_pos"), col("n_neg"),
        round(
          (col("r2") - col("n_pos") * (col("n_pos") + 1)) /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)
          .as("auc"))
  }
  // q_auc: Mann-Whitney rank identity replayed over the same compact
  // per-value domain; every sum is an exact integer, one final division
  row("q_auc", qAuc)(
      """WITH cnt AS (
        |  SELECT value,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS p,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
        |              AS BIGINT) AS n
        |  FROM events GROUP BY value),
        |w AS (
        |  SELECT p, n,
        |         COALESCE(CAST(SUM(n) OVER (ORDER BY value
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS n_below
        |  FROM cnt),
        |a AS (
        |  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
        |         CAST(SUM(n) AS BIGINT) AS n_neg,
        |         CAST(SUM(p * (2 * n_below + n)) AS BIGINT) AS u2
        |  FROM w)
        |SELECT n_pos, n_neg, ROUND(u2 / (2.0 * n_pos * n_neg), 6) AS auc
        |FROM a""".stripMargin)

  /** Decile calibration curve: events bucketed into 10 equal-count score
    * bands, per-band mean score vs observed purchase rate — the
    * calibration table that accompanies any scored dataset release. The
    * decile assignment comes from [[PositionalTake.withGlobalIndex]]
    * (range-partition + per-partition offsets — the sort stays
    * distributed), bucket = idx·10 div n with the total attached as a
    * 1-row broadcast; the purchase rate is an exact integer ratio.
    */
  private def qCalibration(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.events(s, d).select(
      col("event_id"), col("value"),
      (col("event_type") === "purchase").cast("long").as("label"))
    val total = scored.agg(count(lit(1)).as("n_total"))
    PositionalTake.withGlobalIndex(scored, Seq("value", "event_id"), "idx")
      .crossJoin(broadcast(total))
      .groupBy((col("idx") * 10 / col("n_total")).cast("long").as("decile"))
      .agg(
        count(lit(1)).as("n"),
        // exact 1e-4-unit accumulation, ONE double division — a raw
        // double avg is partial-order-dependent, and its last-ulp wiggle
        // flipped a round() boundary between runs (r12 flake)
        (sum(round(col("value") * 10000).cast("long")).cast("double") /
          count(lit(1)).cast("double") / 10000.0).as("mean_score"),
        (sum(col("label")).cast("double") / count(lit(1)).cast("double"))
          .as("pos_rate"))
      .orderBy("decile")
  }
  // q_calibration: ROW_NUMBER over the identical (value, event_id)
  // order; bucket = idx*10 div n (exact in both engines — the double
  // quotient cannot round across an integer for n < 2^26)
  row("q_calibration", qCalibration)(
      """WITH s AS (
        |  SELECT value,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
        |         ROW_NUMBER() OVER (ORDER BY value, event_id) - 1 AS idx,
        |         COUNT(*) OVER () AS n_total
        |  FROM events)
        |SELECT CAST(idx * 10 // n_total AS BIGINT) AS decile,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) / 10000.0 AS mean_score,
        |       CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Deterministic hash bootstrap of the mean purchase value: 32
    * replicates, each row's replicate weight drawn as a Poisson(1)
    * approximation from the engine-portable md5 bucket (same recipe as
    * the portable samplers — any engine reproduces the exact resample).
    * The 32× expansion happens map-side against a broadcast replicate
    * axis and immediately collapses to one (rep, Σw, Σw·v) row — the
    * standard way to bootstrap a statistic over data too large to
    * resample by materialization.
    */
  private def qBootstrapCi(s: SparkSession, d: String): DataFrame = {
    val reps = s.range(32).select(col("id").cast("int").as("rep"))
    val u = pmod(
      conv(substring(md5(concat(
        lit("boot|"), col("event_id").cast("string"),
        lit("|"), col("rep").cast("string"))), 1, 12), 16, 10).cast("long"),
      lit(1000000L))
    // cumulative Poisson(1) thresholds on the 1e6 bucket: e^-1, 2e^-1, ...
    val w = when(u < 367879L, 0L).when(u < 735759L, 1L)
      .when(u < 919699L, 2L).when(u < 981012L, 3L).otherwise(4L)
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
      .crossJoin(broadcast(reps))
      .select(col("rep"), w.as("w"), col("value"))
      .groupBy("rep")
      .agg(
        sum(col("w")).as("n_eff"),
        round(sum(col("w") * col("value")) / sum(col("w")), 6)
          .as("mean_value"))
      .orderBy("rep")
  }
  // q_bootstrap_ci: the portable md5 bucket reproduces the exact
  // resample weights; integer n_eff, one rounded division per replicate
  row("q_bootstrap_ci", qBootstrapCi)(
      """WITH x AS (
        |  SELECT t.rep, e.value,
        |         CAST(('0x' || substr(md5('boot|' || CAST(e.event_id AS VARCHAR)
        |                || '|' || CAST(t.rep AS VARCHAR)), 1, 12)) AS BIGINT)
        |           % 1000000 AS u
        |  FROM events e, (SELECT CAST(range AS INT) AS rep FROM range(32)) t
        |  WHERE e.event_type = 'purchase'),
        |wts AS (
        |  SELECT rep, value,
        |         CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |              WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |              ELSE 4 END AS w
        |  FROM x)
        |SELECT rep, CAST(SUM(w) AS BIGINT) AS n_eff,
        |       ROUND(SUM(w * value) / SUM(w), 6) AS mean_value
        |FROM wts GROUP BY rep ORDER BY rep""".stripMargin)

  /** Benford first-digit audit over order totals — the classic
    * fabricated-data / unit-mixup detector for money columns (natural
    * multiplicative amounts follow P(d) = log10(1+1/d); flat or spiked
    * digit profiles flag synthetic or truncated feeds). The digit is
    * extracted from the EXACT integer-cent string — never from float
    * formatting, which differs across engines — so the per-digit counts
    * are engine-identical; expected shares are pinned as shared literal
    * constants on both sides (not each engine's own log10, whose libm
    * may differ in the last ulp). One map-side-combined 9-row aggregate
    * plus the [[qSeasonality]]-shape 1-row grand-total broadcast attach
    * for the share/χ² columns.
    */
  private def qBenford(s: SparkSession, d: String): DataFrame = {
    // log10(1 + 1/d), d = 1..9 — shortest-roundtrip literals shared
    // verbatim with the oracle SQL
    val benfordShare = Seq(
      0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val digits = Tables.orders(s, d)
      .select(round(col("o_totalprice") * 100).cast("long").as("u2"))
      .filter(col("u2") > 0L)
      .select(substring(col("u2").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("__n_total"))
      .withColumn("one", lit(1))
    val expShare = (2 to 9).foldLeft(
      when(col("digit") === 1, lit(benfordShare.head))) { (acc, dd) =>
        acc.when(col("digit") === dd, lit(benfordShare(dd - 1)))
    }
    digits
      .withColumn("one", lit(1))
      .join(broadcast(total), "one")
      .withColumn("share", col("n").cast("double") / col("__n_total").cast("double"))
      .withColumn("exp_share", expShare)
      .withColumn("chi2_term",
        (col("share") - col("exp_share")) * (col("share") - col("exp_share"))
          / col("exp_share") * col("__n_total").cast("double"))
      .select(col("digit"), col("n"), col("share"), col("exp_share"),
        col("chi2_term"))
      .orderBy("digit")
  }
  // q_benford: digit from the exact integer-cent string; expected
  // shares are the SAME literal constants as the Spark side (never
  // each engine's own log10)
  row("q_benford", qBenford)(
      """WITH dg AS (
        |  SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |                             AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |         COUNT(*) AS n
        |  FROM orders WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > 0
        |  GROUP BY 1
        |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM dg),
        |e(digit, exp_share) AS (VALUES
        |  (1, CAST(0.3010299956639812 AS DOUBLE)),
        |  (2, CAST(0.17609125905568124 AS DOUBLE)),
        |  (3, CAST(0.12493873660829992 AS DOUBLE)),
        |  (4, CAST(0.09691001300805642 AS DOUBLE)),
        |  (5, CAST(0.07918124604762482 AS DOUBLE)),
        |  (6, CAST(0.06694678963061322 AS DOUBLE)),
        |  (7, CAST(0.05799194697768673 AS DOUBLE)),
        |  (8, CAST(0.05115252244738129 AS DOUBLE)),
        |  (9, CAST(0.04575749056067514 AS DOUBLE)))
        |SELECT dg.digit, CAST(dg.n AS BIGINT) AS n,
        |       CAST(dg.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share,
        |       e.exp_share,
        |       (CAST(dg.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) - e.exp_share)
        |         * (CAST(dg.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) - e.exp_share)
        |         / e.exp_share * CAST(t.n_total AS DOUBLE) AS chi2_term
        |FROM dg, t JOIN e ON dg.digit = e.digit
        |ORDER BY dg.digit""".stripMargin)

  /** Ratio-to-parent rollup: each nation's share of its region's order
    * revenue — the canonical drill-down report column. Geography joins
    * are broadcast dimension attaches onto the orders fact; revenue
    * accumulates once per (region, nation) as exact cents, and the
    * parent total comes from a region-partitioned window OVER THE
    * COMPACT ROLLUP — the scale trap with ratio-to-parent is windowing
    * the fact table (corpus-sized partitions through a sort); windowing
    * the ≤nations-sized aggregate is metadata work, and the fact rows
    * move exactly once (the groupBy shuffle, map-side combined). Shares
    * divide exact integers, so they are engine-identical.
    */
  private def qShareOfParent(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val geo = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    Tables.orders(s, d)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("u2"))
      .join(geo, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("u2")).as("nat_u2"))
      .withColumn("reg_u2",
        sum(col("nat_u2")).over(Window.partitionBy("r_name")))
      .select(col("r_name"), col("n_name"),
        (col("nat_u2").cast("double") / 100.0).as("revenue"),
        (col("nat_u2").cast("double") / col("reg_u2").cast("double"))
          .as("share_of_region"))
      .orderBy("r_name", "n_name")
  }
  // q_share_of_parent: identical two-level rollup; shares divide exact
  // integer cent sums
  row("q_share_of_parent", qShareOfParent)(
      """WITH nat AS (
        |  SELECT r_name, n_name,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS nat_u2
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |)
        |SELECT r_name, n_name,
        |       CAST(nat_u2 AS DOUBLE) / 100.0 AS revenue,
        |       CAST(nat_u2 AS DOUBLE) /
        |         CAST(SUM(nat_u2) OVER (PARTITION BY r_name) AS DOUBLE)
        |         AS share_of_region
        |FROM nat ORDER BY r_name, n_name""".stripMargin)

  /** Day-of-week × hour-of-day traffic profile — the seasonality heatmap
    * behind capacity planning and anomaly baselines. One compact-domain
    * aggregate (≤168 cells, map-side combine) with the grand total
    * attached as a 1-row broadcast for the share column. `dayofweek - 1`
    * matches the ISO-agnostic 0=Sunday convention the oracle uses.
    */
  private def qSeasonality(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select((dayofweek(col("ts")) - 1).as("dow"), hour(col("ts")).as("hr"))
    val total = e.agg(count(lit(1)).as("n_total"))
    e.groupBy("dow", "hr")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(
        col("dow"), col("hr"), col("n"),
        round(lit(100.0) * col("n") / col("n_total"), 4).as("pct"))
      .orderBy("dow", "hr")
  }
  // q_seasonality: EXTRACT(DOW) 0=Sunday matches dayofweek-1; share
  // computed as (100.0 * n) / total in both engines
  row("q_seasonality", qSeasonality)(
      """WITH e AS (
        |  SELECT CAST(EXTRACT(DOW FROM ts) AS INT) AS dow,
        |         CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr
        |  FROM events)
        |SELECT dow, hr, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(100.0 * COUNT(*) / (SELECT COUNT(*) FROM e), 4) AS pct
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Time-constrained funnel: view → click within 12 h of the first view
    * → purchase within 12 h of that click. [[qFunnel]] checks ordering
    * only; real conversion windows bound each step, which changes both
    * the semantics (stale clicks don't count) and the plan (the bound is
    * a per-row filter on the joined stage, not new shuffle structure —
    * every exchange is still keyed on user_id alone, and survivor sets
    * shrink monotonically so later stage joins broadcast under AQE).
    */
  private def qFunnelWindowed(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("user_id", "event_type", "ts")
    def withinWindow(evType: String, prev: DataFrame, prevTs: String, outTs: String) =
      e.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevTs) &&
          col("ts") <= col(prevTs) + expr("INTERVAL 12 HOUR"))
        .groupBy("user_id")
        .agg(min(col("ts")).as(outTs))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = withinWindow("click", v, "t_view", "t_click")
    val p = withinWindow("purchase", c, "t_click", "t_purchase")
    v.select(lit(1).as("stage"), col("user_id"))
      .union(c.select(lit(2).as("stage"), col("user_id")))
      .union(p.select(lit(3).as("stage"), col("user_id")))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }
  // q_funnel_windowed: the same three stage reductions with the 12h
  // bound as a plain timestamp comparison in each stage join
  row("q_funnel_windowed", qFunnelWindowed)(
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 12 HOUR
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 12 HOUR
        |  GROUP BY e.user_id)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        |  SELECT 1 AS stage, user_id FROM v
        |  UNION ALL SELECT 2, user_id FROM c
        |  UNION ALL SELECT 3, user_id FROM p)
        |GROUP BY stage ORDER BY stage""".stripMargin)

  /** Degree distribution of the near-dup graph — the shape diagnostic
    * read next to [[qGraphTriangles]]' transitivity: a long degree tail
    * means hub documents (templates, boilerplate) stitching unlike docs
    * into one cluster. Reads the write-once [[stagedDupPairs]] artifact;
    * the histogram is two compact aggregates (per-node degree with
    * map-side combine, then counts over the tiny degree domain).
    */
  private def qGraphDegreeDist(s: SparkSession, d: String): DataFrame = {
    val e = stagedDupPairs(s, d)
    e.select(col("id_a").as("id"))
      .unionAll(e.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")
  }
  // q_graph_degree_dist: the q_dup_clusters exact pair set replayed,
  // then two integer counting aggregates
  row("q_graph_degree_dist", qGraphDegreeDist)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i.id_a, i.id_b
        |  FROM inter i
        |  JOIN sizes sa ON i.id_a = sa.id
        |  JOIN sizes sb ON i.id_b = sb.id
        |  WHERE CAST(i.n_inter AS DOUBLE) /
        |        CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5),
        |deg AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM (SELECT id_a AS id FROM pairs
        |        UNION ALL SELECT id_b FROM pairs)
        |  GROUP BY id)
        |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY deg ORDER BY deg""".stripMargin)

  /** Per-source decile boundaries of document length — the quantile table
    * behind cross-source length normalization (and the input you'd feed a
    * quantile-matching resampler). Exact order statistics, not sketches:
    * the within-source rank is a source-PARTITIONED window (distributed
    * by the group key), the 9 target ranks per source are computed on the
    * compact per-source count table and JOINED back on (source, rank) —
    * no 9× row expansion of the corpus, and every boundary is an integer.
    */
  private def qQuantileNormalize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    val ranked = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("r", row_number().over(w) - 1)
    val targets = ranked.groupBy("source").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        s.range(1, 10).select(col("id").cast("int").as("decile"))))
      .select(col("source"), col("decile"),
        ((col("n") - 1) * col("decile") / 10).cast("long").as("r"))
    ranked.join(targets, Seq("source", "r"))
      .select(col("source"), col("decile"), col("n_chars").as("boundary"))
      .orderBy("source", "decile")
  }
  // q_quantile_normalize: identical (n-1)*d div 10 target ranks joined
  // back on (source, rank); integer boundaries throughout
  row("q_quantile_normalize", qQuantileNormalize)(
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY n_chars, doc_id) - 1 AS r,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |t AS (SELECT DISTINCT source, n FROM ranked),
        |targets AS (
        |  SELECT source, CAST(d.decile AS INT) AS decile,
        |         CAST((n - 1) * d.decile // 10 AS BIGINT) AS r
        |  FROM t, (SELECT range AS decile FROM range(1, 10)) d)
        |SELECT ranked.source, decile, n_chars AS boundary
        |FROM ranked
        |JOIN targets ON ranked.source = targets.source AND ranked.r = targets.r
        |ORDER BY ranked.source, decile""".stripMargin)

  /** Single change-point detection on the daily event-count series: the
    * split minimizing two-segment squared error — the "did the pipeline's
    * volume regime shift, and when?" monitor. Decomposition: the daily
    * series is a compact map-side-combinable aggregate; both segment SSEs
    * come from cumulative Σc and Σc² windows over that tiny domain in
    * closed form, so every input to the argmin is derived from exact
    * integer sums and the winning split is engine-independent.
    */
  private def qChangepoint(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pick = Window.orderBy("sse", "day")
    daily
      .select(col("day"),
        sum(col("c")).over(cum).as("s1"),
        sum(col("c") * col("c")).over(cum).as("s2"),
        sum(col("c")).over(full).as("t1"),
        sum(col("c") * col("c")).over(full).as("t2"),
        count(lit(1)).over(cum).as("k"),
        count(lit(1)).over(full).as("n"))
      .filter(col("k") < col("n"))
      .select(col("day"), col("k"), col("n"), col("s1"), col("t1"),
        ((col("s2") - col("s1") * col("s1") / col("k").cast("double")) +
          (col("t2") - col("s2") -
            (col("t1") - col("s1")) * (col("t1") - col("s1")) /
              (col("n") - col("k")).cast("double"))).as("sse"))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("split_day"),
        col("n").as("n_days"),
        round(col("s1") / col("k").cast("double"), 4).as("mean_before"),
        round((col("t1") - col("s1")) / (col("n") - col("k")).cast("double"), 4)
          .as("mean_after"),
        round(col("sse"), 4).as("sse"))
  }
  // q_changepoint: closed-form two-segment SSE from cumulative integer
  // sums; identical operand order keeps the argmin engine-independent
  row("q_changepoint", qChangepoint)(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |cum AS (
        |  SELECT day,
        |         CAST(SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |              AS BIGINT) AS s1,
        |         CAST(SUM(c * c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |              AS BIGINT) AS s2,
        |         CAST(SUM(c) OVER () AS BIGINT) AS t1,
        |         CAST(SUM(c * c) OVER () AS BIGINT) AS t2,
        |         CAST(COUNT(*) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |              AS BIGINT) AS k,
        |         CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM daily),
        |sse AS (
        |  SELECT day, k, n, s1, t1,
        |         (s2 - s1 * s1 / CAST(k AS DOUBLE)) +
        |         (t2 - s2 - (t1 - s1) * (t1 - s1) / CAST(n - k AS DOUBLE))
        |           AS sse
        |  FROM cum WHERE k < n),
        |best AS (SELECT * FROM sse ORDER BY sse, day LIMIT 1)
        |SELECT strftime(day, '%Y-%m-%d') AS split_day, n AS n_days,
        |       ROUND(s1 / CAST(k AS DOUBLE), 4) AS mean_before,
        |       ROUND((t1 - s1) / CAST(n - k AS DOUBLE), 4) AS mean_after,
        |       ROUND(sse, 4) AS sse
        |FROM best""".stripMargin)

  /** Event-time-weighted average value per event type: each reading
    * holds until the NEXT reading of its type, so the mean weights every
    * value by its holding duration — the right average for irregularly
    * sampled gauges, where the arithmetic mean over-counts bursts (the
    * monitoring read beside [[qEventGaps]]). The lead window is
    * type-partitioned (distributed by key, never global), durations are
    * exact integer µs (`unix_micros`, tie rows → dt 0, dropped
    * deterministically), and the weighted sum accumulates as
    * DECIMAL(38,0) — value-units × µs exceeds the int64 range at month
    * gaps, so the product is promoted BEFORE the multiply on both
    * engines (HUGEINT on the oracle side) — with ONE double division at
    * the end. Everything after the window is a map-side-combinable
    * per-type aggregate.
    */
  private def qTimeWeightedAvg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("us", "event_id")
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 10000).cast("long").as("v_u4"))
      .withColumn("dt_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dt_us").isNotNull && col("dt_us") > 0L)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).as("sum_dt_us"),
        (sum(col("v_u4").cast("decimal(38,0)") * col("dt_us"))
          .cast("double") / sum(col("dt_us")).cast("double") / 10000.0)
          .as("twa_value"))
      .orderBy("event_type")
  }
  // q_time_weighted_avg: identical lead/filter/aggregate semantics; the
  // weighted sum is promoted to HUGEINT before the multiply (the Spark
  // side promotes to DECIMAL(38,0)) and cast to double exactly once
  row("q_time_weighted_avg", qTimeWeightedAvg)(
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_us(ts) AS BIGINT) AS us,
        |         LEAD(epoch_us(ts)) OVER (
        |           PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
        |           AS nxt_us,
        |         CAST(ROUND(value * 10000) AS BIGINT) AS v_u4
        |  FROM events
        |), i AS (
        |  SELECT event_type, v_u4, nxt_us - us AS dt_us
        |  FROM e WHERE nxt_us IS NOT NULL AND nxt_us - us > 0
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |       CAST(SUM(dt_us) AS BIGINT) AS sum_dt_us,
        |       CAST(SUM(CAST(v_u4 AS HUGEINT) * dt_us) AS DOUBLE)
        |         / CAST(SUM(dt_us) AS DOUBLE) / 10000.0 AS twa_value
        |FROM i GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Deterministic per-group MODE (most frequent value, ties → smallest
    * value): two cascaded map-side-combinable aggregates, window-free —
    * count per (group, value), then argmax via a lexicographic struct
    * MAX whose second field is the NEGATED value, so the tie-break is
    * part of the aggregate itself. Spark's built-in `mode` is
    * tie-nondeterministic (any modal value may win), which cannot be
    * oracled; this shape pins the answer AND scales better than the
    * rank-window formulation — no sort, no per-group row funnel, state
    * is one (count, value) pair per partition per group.
    */
  private def qMode(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag", "qty")
      .agg(count(lit(1)).as("n"))
      .groupBy("l_returnflag")
      .agg(
        max(struct(col("n"), (-col("qty")).as("neg_qty"))).as("m"),
        sum(col("n")).as("n_rows"))
      .select(col("l_returnflag"),
        col("m.n").as("mode_count"),
        (-col("m.neg_qty")).as("mode_qty"),
        col("n_rows"))
      .orderBy("l_returnflag")
  // q_mode: oracled from first principles (rank over the value counts,
  // ties to the smallest value) — DuckDB's mode() is tie-unspecified
  row("q_mode", qMode)(
      """WITH c AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |         COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2
        |), r AS (
        |  SELECT l_returnflag, n, qty,
        |         SUM(n) OVER (PARTITION BY l_returnflag) AS tot,
        |         ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                            ORDER BY n DESC, qty ASC) AS rk
        |  FROM c
        |)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS mode_count,
        |       qty AS mode_qty, CAST(tot AS BIGINT) AS n_rows
        |FROM r WHERE rk = 1 ORDER BY 1""".stripMargin)

  /** Inter-event gap profile: per-user time between consecutive events,
    * bucketed into operational bands — the cadence distribution that
    * sizes session timeouts and retention windows. The lag window is
    * user-partitioned (distributed by key), gaps stay integer seconds,
    * and the rollup is a ≤6-row aggregate whose means are exact integer
    * ratios.
    */
  private def qEventGaps(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // µs epoch is order-isomorphic to ts, so ordering on it is identical
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap_s", ((col("us") - lag(col("us"), 1).over(w)) / 1000000L)
        .cast("long"))
      .filter(col("gap_s").isNotNull)
      .groupBy(
        when(col("gap_s") < 60, "a_under_1m")
          .when(col("gap_s") < 600, "b_1m_10m")
          .when(col("gap_s") < 3600, "c_10m_1h")
          .when(col("gap_s") < 21600, "d_1h_6h")
          .when(col("gap_s") < 86400, "e_6h_1d")
          .otherwise("f_over_1d").as("band"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("gap_s")), 4).as("mean_gap_s"))
      .orderBy("band")
  }
  // q_event_gaps: same per-user lag and integer-second bands; band
  // means are exact integer ratios
  row("q_event_gaps", qEventGaps)(
      """WITH g AS (
        |  SELECT (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id)) // 1000000 AS gap_s
        |  FROM events)
        |SELECT CASE WHEN gap_s < 60 THEN 'a_under_1m'
        |            WHEN gap_s < 600 THEN 'b_1m_10m'
        |            WHEN gap_s < 3600 THEN 'c_10m_1h'
        |            WHEN gap_s < 21600 THEN 'd_1h_6h'
        |            WHEN gap_s < 86400 THEN 'e_6h_1d'
        |            ELSE 'f_over_1d' END AS band,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(AVG(gap_s), 4) AS mean_gap_s
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Last-touch attribution: each purchase credited to the user's most
    * recent PRECEDING click, banded by click→purchase latency (the
    * conversion-lag report behind attribution-window choices; `z_no_click`
    * = organic). The carry-forward is a user-partitioned window (`last`
    * with ignoreNulls over rows preceding), so the scan stays distributed
    * by user and no self-join materializes click×purchase candidates.
    */
  private def qAttribution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
      .withColumn("click_us",
        last(when(col("event_type") === "click", col("us")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(
        when(col("click_us").isNull, "z_no_click")
          .when(col("us") - col("click_us") < 3600000000L, "a_under_1h")
          .when(col("us") - col("click_us") < 86400000000L, "b_1h_1d")
          .otherwise("c_over_1d").as("band"))
      .agg(
        count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 4).as("total_value"))
      .orderBy("band")
  }
  // q_attribution: identical carry-forward window (rows preceding,
  // ignore nulls) and integer-µs latency bands
  row("q_attribution", qAttribution)(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
        |  FROM events),
        |a AS (
        |  SELECT *,
        |         LAST_VALUE(CASE WHEN event_type = 'click' THEN us END
        |                    IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS click_us
        |  FROM e)
        |SELECT CASE WHEN click_us IS NULL THEN 'z_no_click'
        |            WHEN us - click_us < 3600000000 THEN 'a_under_1h'
        |            WHEN us - click_us < 86400000000 THEN 'b_1h_1d'
        |            ELSE 'c_over_1d' END AS band,
        |       CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |       ROUND(SUM(value), 4) AS total_value
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Mann–Kendall trend test on the daily event-count series — the
    * monotone-trend monitor read next to [[qChangepoint]]'s regime-shift
    * detector: S = Σ_{i<j} sign(cⱼ−cᵢ) with the tie-corrected normal
    * approximation. The daily series is a compact map-side-combinable
    * aggregate; the pair sum is a deliberate triangular join over that
    * ~30-row domain (metadata-sized, the q_take prefix-sum shape), the tie
    * correction a group-by over equal counts, and every input to z is an
    * exact integer so the verdict is engine-independent.
    */
  // (qOlsTrend lives below qTrendTest: the parametric line next to the
  // non-parametric verdict)
  private def qTrendTest(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val sStat = daily.as("a")
      .join(daily.as("b"), col("a.day") < col("b.day"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_stat"))
    val ties = daily.groupBy("c").agg(count(lit(1)).as("t"))
      .agg(coalesce(
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)), lit(0L))
        .as("tie_term"))
    val base = daily.agg(count(lit(1)).as("n_days"))
    base.crossJoin(sStat).crossJoin(ties)
      .select(
        col("n_days"), col("s_stat"),
        ((col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - col("tie_term")) / lit(18.0)).as("var_s"))
      .select(
        col("n_days"), col("s_stat"), round(col("var_s"), 4).as("var_s"),
        round(
          when(col("s_stat") > 0, (col("s_stat") - 1) / sqrt(col("var_s")))
            .when(col("s_stat") < 0, (col("s_stat") + 1) / sqrt(col("var_s")))
            .otherwise(lit(0.0)), 4).as("z"))
  }
  // q_trend_test: S and the tie term are exact integer sums; identical
  // (S∓1)/sqrt(var) continuity correction
  row("q_trend_test", qTrendTest)(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT CAST(SUM(SIGN(b.c - a.c)) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |t AS (
        |  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
        |           AS tie_term
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY c)),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |v AS (
        |  SELECT n_days, s_stat,
        |         (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term) / 18.0
        |           AS var_s
        |  FROM n, s, t)
        |SELECT n_days, s_stat, ROUND(var_s, 4) AS var_s,
        |       ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
        |                  WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
        |                  ELSE 0.0 END, 4) AS z
        |FROM v""".stripMargin)

  /** Per-type OLS trend line of the daily event-count series — the
    * parametric line beside [[qTrendTest]]'s non-parametric verdict (a
    * monitor wants both: Mann-Kendall says WHETHER, the slope says HOW
    * FAST). x is the day offset from the corpus epoch, y the daily
    * count, so all five sufficient statistics (n, Σx, Σy, Σxy, Σxx) are
    * EXACT integers from ONE map-side-combinable aggregate over the
    * compact (type, day) domain; slope and intercept are closed-form
    * ratios of those integers — two double divisions at the end, no
    * iterative fitting, no window. This is the textbook
    * sufficient-statistics decomposition that makes regression a single
    * distributed pass at any scale (the same shape `regr_slope` uses,
    * spelled out so both engines compute bit-identical ratios).
    */
  private def qOlsTrend(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        col("event_type"), col("n_days"), col("sy").as("n_events"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_per_day"),
        col("sx"), col("sy"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope_per_day") * col("sx").cast("double"))
          / col("n_days").cast("double"))
      .drop("sx", "sy")
      .orderBy("event_type")
  // q_ols_trend: the identical sufficient-statistics closed form; all
  // five sums are exact integers, the two divisions mirror Spark's
  row("q_ols_trend", qOlsTrend)(
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |              AS BIGINT) AS x,
        |         COUNT(*) AS y
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * y) AS BIGINT) AS sxy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1
        |)
        |SELECT event_type, n_days, sy AS n_events,
        |       CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |         CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope_per_day,
        |       (CAST(sy AS DOUBLE) -
        |        (CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |         CAST(n_days * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |         / CAST(n_days AS DOUBLE) AS intercept
        |FROM s ORDER BY event_type""".stripMargin)

  /** Lagged cross-correlation between the view and click daily series —
    * does today's view volume predict clicks k days later? (the
    * lead-indicator probe next to [[qOlsTrend]]'s within-series line).
    * Pearson r at lags 0–3 from the six exact integer sufficient
    * statistics per lag; numerator and the two variance terms are exact
    * bigints cast to double ONCE each (products of the n·Σ terms can
    * exceed int64 at large corpora, so the multiply happens in double
    * space on both engines — identical op order, identical bits). The
    * corpus-sized work is ONE map-side-combined daily count; the lag
    * expansion and self-join ride the compact ~30-row-per-type series,
    * the same compact-domain contract as [[qTrendTest]].
    */
  private def qCrossCorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type").isin("view", "click"))
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
    val views = daily.filter(col("event_type") === "view")
      .select(col("day"), col("n").as("x"))
    val clicks = daily.filter(col("event_type") === "click")
      .select(col("day").as("bday"), col("n").as("y"))
    views
      .withColumn("lag",
        explode(array(lit(0L), lit(1L), lit(2L), lit(3L))))
      .join(clicks, col("bday") === col("day") + col("lag"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n_days"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n_days") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("pearson_r"))
      .orderBy("lag")
  }
  // q_cross_corr: identical sufficient-statistics Pearson r per lag;
  // the n·Σ products multiply in double space on both sides
  row("q_cross_corr", qCrossCorr)(
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |              AS BIGINT) AS day,
        |         COUNT(*) AS n
        |  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2
        |), v AS (SELECT day, n AS x FROM daily WHERE event_type = 'view'),
        |c AS (SELECT day AS bday, n AS y FROM daily WHERE event_type = 'click'),
        |lags(lag) AS (VALUES (CAST(0 AS BIGINT)), (1), (2), (3)),
        |j AS (
        |  SELECT l.lag, v.x, c.y FROM v CROSS JOIN lags l
        |  JOIN c ON c.bday = v.day + l.lag
        |), s AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * y) AS BIGINT) AS sxy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx,
        |         CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM j GROUP BY 1
        |)
        |SELECT lag, n_days,
        |       CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |         SQRT(CAST(n_days * sxx - sx * sx AS DOUBLE) *
        |              CAST(n_days * syy - sy * sy AS DOUBLE)) AS pearson_r
        |FROM s ORDER BY lag""".stripMargin)

  /** Join-key skew diagnostic over lineitem.l_partkey — the pre-flight a
    * pipeline runs before choosing plain vs salted vs broadcast joins
    * ([[qSaltedJoin]] is the remedy this report motivates). Per-key counts
    * aggregate map-side onto the key domain; the five summary stats (max,
    * mean, exact p50/p99 of the frequency distribution, top-key share) are
    * one scalar aggregate over that compact count table.
    */
  private def qKeySkew(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_freq"),
        percentile(col("c"), array(lit(0.5), lit(0.99))).as("ps"))
      .select(
        col("n_keys"), col("n_rows"), col("max_freq"),
        round(col("ps").getItem(0), 4).as("p50_freq"),
        round(col("ps").getItem(1), 4).as("p99_freq"),
        round(col("max_freq") * col("n_keys") / col("n_rows").cast("double"), 4)
          .as("skew_ratio"))
  // q_key_skew: per-key counts then one scalar aggregate; QUANTILE_CONT
  // matches Spark's exact interpolated percentile
  row("q_key_skew", qKeySkew)(
      """WITH cnt AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |       CAST(SUM(c) AS BIGINT) AS n_rows,
        |       CAST(MAX(c) AS BIGINT) AS max_freq,
        |       ROUND(QUANTILE_CONT(c, 0.5), 4) AS p50_freq,
        |       ROUND(QUANTILE_CONT(c, 0.99), 4) AS p99_freq,
        |       ROUND(MAX(c) * COUNT(*) / CAST(SUM(c) AS DOUBLE), 4)
        |         AS skew_ratio
        |FROM cnt""".stripMargin)

  /** ORC source/sink roundtrip — the third interchange format next to
    * [[qJsonRoundtrip]] and [[qCsvRoundtrip]]: columnar like parquet
    * (predicate pushdown, column pruning, stripe statistics), so it is the
    * format an engine meets when ingesting from Hive-era warehouses. The
    * timestamp travels as epoch-µs BIGINT for the same reason as the CSV
    * row: the roundtrip under comparison is the engine's, and pinning the
    * value to an integer keeps the oracle independent of each reader's
    * timestamp-zone reconstruction rules.
    */
  private def qOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_orcrt/${dirTag(d)}/events"
    // guard on _SUCCESS, not the directory: a crashed mid-write leaves a
    // partial directory that a bare exists-check would serve forever
    stagedOnce(dir) {
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(dir)
    }
    s.read.orc(dir).orderBy("event_id")
  }
  // q_orc_roundtrip: the roundtrip is the identity on these columns, so
  // the oracle reads them straight off the parquet table
  row("q_orc_roundtrip", qOrcRoundtrip)(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin)

  /** Multinomial naive Bayes language classifier trained AND scored
    * in-engine (resubstitution), reported as the lang × predicted
    * confusion matrix — the in-database classical-ML shape next to
    * [[qKmeans]]. Add-1 smoothing over the corpus vocabulary; every
    * per-token log-likelihood is quantized ONCE to an integer
    * (`round(1e6·ln…)`), so document scores are exact BIGINT sums — fp
    * summation order can never flip an argmax, and the prediction is
    * engine-independent by construction (ties break to the
    * lexicographically first class). Shape: per-doc token counts and
    * class-conditional counts are posting-list aggregates; scoring is a
    * token-keyed join (the [[Dedup]] inverted-index shape); the 5-row
    * class axis and 1-row vocab size ride broadcast attaches.
    */
  private def qNaiveBayes(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // EVERYTHING derives from this one (doc, lang, token)-count aggregate
    // and the class-conditional rollup below it — its consumers see
    // byte-identical subtrees, so the tokenize+explode shuffle
    // materializes once and every other reader is a ReusedExchange
    // (pinned in PlanAuditSpec; the q_lm_score single-tokenize
    // discipline — the naive formulation re-tokenized the corpus 9×
    // because differently-pruned branches canonicalize differently)
    val dt = Tables.documents(s, d)
      // semantically a no-op (both columns are non-null), but it pins the
      // null filters the consumers otherwise infer UNEVENLY — the seen
      // join infers isnotnull(doc_id), the class rollup isnotnull(lang),
      // the doc rollup neither — three canonically different subtrees,
      // three corpus tokenizations (the q_lm_score regression)
      .filter(col("doc_id").isNotNull && col("lang").isNotNull)
      .select(col("doc_id"), col("lang"), explode(tokens(lower(col("text")))).as("w"))
      .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("n_td"))
    // class-conditional token counts; vocab size and per-class totals are
    // rollups of THIS table, not fresh corpus passes
    val cw = dt.groupBy(col("lang").as("cls"), col("w"))
      .agg(sum(col("n_td")).as("c"))
    // the c>0 filter is always true; referencing the aggregate output
    // stops RemoveRedundantAggregates from collapsing this branch into a
    // fresh pruned corpus scan — it reads the cw exchange back instead
    val vocab = cw.filter(col("c") > 0).agg(countDistinct(col("w")).as("v"))
    val classAxis = cw.groupBy("cls").agg(sum(col("c")).as("ct"))
      .crossJoin(broadcast(vocab))
      .select(col("cls"), round(lit(1e6) * log(col("ct") + col("v")))
        .cast("long").as("a_denom"))
    val lik = cw.select(col("cls"), col("w"),
      round(lit(1e6) * log(col("c") + 1)).cast("long").as("l_tok"))
    val docTotals = dt.groupBy("doc_id")
      .agg(max(col("lang")).as("lang"), sum(col("n_td")).as("n_d"))
    // priors come straight off the documents scan (textbook P(c) over ALL
    // docs) — no tokenization needed, so this branch is a cheap pruned
    // column scan instead of a fourth corpus explode
    val docsPerClass = Tables.documents(s, d)
      .groupBy(col("lang").as("cls")).agg(count(lit(1)).as("n_c"))
    val nDocs = docsPerClass.agg(sum(col("n_c")).as("n"))
    val prior = docsPerClass.crossJoin(broadcast(nDocs))
      .select(col("cls"),
        (round(lit(1e6) * log(col("n_c"))) - round(lit(1e6) * log(col("n"))))
          .cast("long").as("p_prior"))
    // seen-token credit per (doc, class); unseen tokens contribute only
    // the -n_d·a_denom term, which the class-axis attach below supplies
    val seen = dt.join(lik, "w")
      .groupBy("doc_id", "cls")
      .agg(sum(col("n_td") * col("l_tok")).as("s_seen"))
    val scored = docTotals
      .crossJoin(broadcast(classAxis.join(prior, "cls")))
      .join(seen, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("lang"), col("cls"),
        (col("p_prior") - col("n_d") * col("a_denom") +
          coalesce(col("s_seen"), lit(0L))).as("score"))
    val pick = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cls"))
    scored.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .groupBy(col("lang"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")
  }
  // q_naive_bayes: identical integer-quantized log-likelihoods
  // (round(1e6·ln) once per value), so scores are exact BIGINT sums and
  // the argmax cannot drift between engines
  row("q_naive_bayes", qNaiveBayes, Scaling)(
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |dtc AS (
        |  SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS n_td
        |  FROM (SELECT doc_id, lang, unnest(t) AS w FROM tok)
        |  GROUP BY 1, 2, 3),
        |v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM dtc),
        |cw AS (SELECT lang AS cls, w, CAST(SUM(n_td) AS BIGINT) AS c
        |       FROM dtc GROUP BY 1, 2),
        |ca AS (SELECT cls,
        |              CAST(ROUND(1e6 * LN(SUM(c) + (SELECT v FROM v)))
        |                   AS BIGINT) AS a_denom
        |       FROM cw GROUP BY cls),
        |dpc AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_c
        |        FROM documents GROUP BY 1),
        |pri AS (SELECT cls,
        |               CAST(ROUND(1e6 * LN(n_c)) AS BIGINT) -
        |               CAST(ROUND(1e6 * LN((SELECT SUM(n_c) FROM dpc)))
        |                    AS BIGINT) AS p_prior
        |        FROM dpc),
        |lik AS (SELECT cls, w, CAST(ROUND(1e6 * LN(c + 1)) AS BIGINT) AS l_tok
        |        FROM cw),
        |dtot AS (SELECT doc_id, MAX(lang) AS lang,
        |                CAST(SUM(n_td) AS BIGINT) AS n_d
        |         FROM dtc GROUP BY 1),
        |seen AS (SELECT d.doc_id, l.cls,
        |                CAST(SUM(d.n_td * l.l_tok) AS BIGINT) AS s_seen
        |         FROM dtc d JOIN lik l USING (w) GROUP BY 1, 2),
        |scored AS (
        |  SELECT dtot.doc_id, dtot.lang, ca.cls,
        |         pri.p_prior - dtot.n_d * ca.a_denom +
        |           COALESCE(seen.s_seen, 0) AS score
        |  FROM dtot CROSS JOIN ca
        |  JOIN pri ON ca.cls = pri.cls
        |  LEFT JOIN seen ON seen.doc_id = dtot.doc_id AND seen.cls = ca.cls),
        |best AS (
        |  SELECT lang, cls AS predicted,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, cls) AS rn
        |  FROM scored)
        |SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM best WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Kaplan–Meier survival curve for signup→purchase conversion,
    * right-censored at each user's last observed event — the estimator
    * [[qTimeToEvent]]'s converters-only quartiles cannot give you (it
    * silently drops the censored majority; KM keeps them at risk until
    * they disappear). Day-granularity risk table: d/c counts aggregate
    * map-side onto the compact day domain, at-risk counts and the product
    * Π(1−d/n) are cumulative windows over that domain (the product via
    * exp∘Σln — the [[qPsiDrift]]-family fp discipline, rounded once at the
    * end).
    */
  private def qKaplanMeier(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s_us"))
    val endU = ev.groupBy("user_id").agg(max(col("us")).as("e_us"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("us") >= col("s_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"))
    val subj = su.join(endU, "user_id").join(pu, Seq("user_id"), "left")
      .select(
        floor((coalesce(col("p_us"), col("e_us")) - col("s_us")) /
          86400000000L).as("t_days"),
        col("p_us").isNotNull.as("converted"))
    val byDay = subj.groupBy("t_days")
      .agg(
        sum(when(col("converted"), 1L).otherwise(0L)).as("d_events"),
        sum(when(col("converted"), 0L).otherwise(1L)).as("c_censored"))
    val after = Window.orderBy("t_days")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val upTo = Window.orderBy("t_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .withColumn("n_risk",
        sum(col("d_events") + col("c_censored")).over(after))
      // d = n (everyone remaining converts) makes the factor 0 and S ≡ 0
      // from there on; it must be an EXPLICIT zero because ln(0) is NULL
      // in Spark but -inf in DuckDB — the one place exp∘Σln diverges
      .withColumn("survival",
        when(max(when(col("d_events") === col("n_risk"), 1).otherwise(0))
          .over(upTo) === 1, lit(0.0))
          .otherwise(exp(sum(
            when(col("d_events") < col("n_risk"),
              log(lit(1.0) - col("d_events") / col("n_risk").cast("double"))))
            .over(upTo))))
      .filter(col("d_events") > 0)
      .select(col("t_days"), col("n_risk"), col("d_events"),
        round(col("survival"), 6).as("survival"))
      .orderBy("t_days")
  }
  // q_kaplan_meier: same day-granularity risk table; survival through
  // exp∘Σln over d<n factors with the d=n zero made explicit (Spark's
  // ln(0) is NULL, DuckDB's is -inf — the CASE removes the divergence)
  row("q_kaplan_meier", qKaplanMeier)(
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |su AS (SELECT user_id, MIN(us) AS s_us FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |endu AS (SELECT user_id, MAX(us) AS e_us FROM ev GROUP BY 1),
        |pu AS (SELECT e.user_id, MIN(e.us) AS p_us
        |       FROM ev e JOIN su ON e.user_id = su.user_id
        |       WHERE e.event_type = 'purchase' AND e.us >= su.s_us
        |       GROUP BY 1),
        |subj AS (
        |  SELECT CAST(FLOOR((COALESCE(p.p_us, en.e_us) - su.s_us) /
        |              86400000000) AS BIGINT) AS t_days,
        |         p.p_us IS NOT NULL AS converted
        |  FROM su JOIN endu en USING (user_id) LEFT JOIN pu p USING (user_id)),
        |byday AS (
        |  SELECT t_days,
        |         CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |           AS d_events,
        |         CAST(SUM(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT)
        |           AS c_censored
        |  FROM subj GROUP BY 1),
        |r AS (
        |  SELECT t_days, d_events,
        |         CAST(SUM(d_events + c_censored)
        |              OVER (ORDER BY t_days ROWS BETWEEN CURRENT ROW AND
        |                    UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        |  FROM byday),
        |km AS (
        |  SELECT t_days, n_risk, d_events,
        |         CASE WHEN MAX(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END)
        |                OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING) = 1
        |              THEN 0.0
        |              ELSE EXP(SUM(CASE WHEN d_events < n_risk THEN
        |                     LN(1.0 - d_events / CAST(n_risk AS DOUBLE)) END)
        |                   OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING))
        |         END AS survival
        |  FROM r)
        |SELECT t_days, n_risk, d_events, ROUND(survival, 6) AS survival
        |FROM km WHERE d_events > 0 ORDER BY t_days""".stripMargin)

  /** k-anonymity audit over the (event_type, day, value-decade)
    * quasi-identifier — the privacy gate run before sharing an events
    * extract: rows in groups smaller than k are re-identifiable. One
    * group-by onto the QI domain, then a ≤3-row banded rollup with exact
    * integer counts.
    */
  private def qKAnonymity(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / 10).cast("long").as("vb"))
      .groupBy("event_type", "day", "vb").agg(count(lit(1)).as("k"))
      .groupBy(
        when(col("k") < 5, "a_k_lt_5")
          .when(col("k") < 20, "b_k_5_20")
          .otherwise("c_k_ge_20").as("band"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(col("k")).as("n_rows"))
      .orderBy("band")
  // q_k_anonymity: exact integer counts over the QI domain and bands
  row("q_k_anonymity", qKAnonymity)(
      """WITH g AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(FLOOR(value / 10) AS BIGINT) AS vb,
        |         CAST(COUNT(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT CASE WHEN k < 5 THEN 'a_k_lt_5'
        |            WHEN k < 20 THEN 'b_k_5_20'
        |            ELSE 'c_k_ge_20' END AS band,
        |       CAST(COUNT(*) AS BIGINT) AS n_groups,
        |       CAST(SUM(k) AS BIGINT) AS n_rows
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Temporal train/eval split at the 70% point of the observed time
    * range, with the user-overlap report — time-based splitting is how
    * event pipelines avoid the future-leaks-into-train failure of random
    * splits, and the overlap count is the "same user on both sides"
    * caveat a model card must carry. The cutoff is exact integer µs
    * arithmetic on the 1-row min/max attach; per-user side flags reduce
    * in one pass.
    */
  private def qTemporalSplit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select((col("mn") + ((col("mx") - col("mn")) * 7) / 10).as("cut_us"))
    val flags = ev.crossJoin(broadcast(bounds))
      .groupBy("user_id")
      .agg(
        sum(when(col("us") <= col("cut_us"), 1L).otherwise(0L)).as("n_tr"),
        sum(when(col("us") > col("cut_us"), 1L).otherwise(0L)).as("n_te"))
    flags.agg(
      sum(col("n_tr")).as("n_train_rows"),
      sum(col("n_te")).as("n_test_rows"),
      sum(when(col("n_tr") > 0, 1L).otherwise(0L)).as("n_train_users"),
      sum(when(col("n_te") > 0, 1L).otherwise(0L)).as("n_test_users"),
      sum(when(col("n_tr") > 0 && col("n_te") > 0, 1L).otherwise(0L))
        .as("n_overlap_users"))
  }
  // q_temporal_split: integer-µs cutoff arithmetic, one per-user pass
  row("q_temporal_split", qTemporalSplit)(
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |b AS (SELECT MIN(us) + ((MAX(us) - MIN(us)) * 7) // 10 AS cut_us
        |      FROM ev),
        |f AS (
        |  SELECT user_id,
        |         SUM(CASE WHEN us <= (SELECT cut_us FROM b) THEN 1 ELSE 0 END)
        |           AS n_tr,
        |         SUM(CASE WHEN us > (SELECT cut_us FROM b) THEN 1 ELSE 0 END)
        |           AS n_te
        |  FROM ev GROUP BY 1)
        |SELECT CAST(SUM(n_tr) AS BIGINT) AS n_train_rows,
        |       CAST(SUM(n_te) AS BIGINT) AS n_test_rows,
        |       CAST(SUM(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_train_users,
        |       CAST(SUM(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_test_users,
        |       CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_overlap_users
        |FROM f""".stripMargin)

  /** One power-iteration of PCA over the embedding table: the dominant
    * principal direction (64 loadings) plus the Rayleigh-quotient
    * eigenvalue estimate — in-engine linear algebra without materializing
    * the 64×64 covariance: y = Σᵣ xᵣ·(xᵣᵀv₀) needs only a per-row dot
    * product (codegen'd `aggregate` fold) and a per-dimension sum over a
    * posexplode — two map-side-combinable aggregates, no dim² shuffle.
    * v₀ = 1/√64 = 0.125 exactly (a power of two), so the seed introduces
    * no fp noise of its own; loadings are rounded once after
    * normalization.
    */
  private def qPcaPower(s: SparkSession, d: String): DataFrame = {
    val withZ = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        (aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double")) * lit(0.125d)).as("z"))
    val y = withZ
      .select(posexplode(col("embedding")).as(Seq("i", "x")), col("z"))
      .groupBy("i").agg(sum(col("x").cast("double") * col("z")).as("y"))
    val nrm = y.agg(sqrt(sum(col("y") * col("y"))).as("nrm"))
    y.crossJoin(broadcast(nrm))
      .select(
        col("i").cast("long").as("dim"),
        round(col("y") / col("nrm"), 6).as("loading"),
        round(col("nrm"), 4).as("lambda"))
      .orderBy("dim")
  }
  // q_pca_power: v0 = 0.125 is exact, both engines fold the 64-float
  // row dot as doubles; loadings rounded once after normalization
  row("q_pca_power", qPcaPower)(
      """WITH e AS (
        |  SELECT vec_id,  embedding,
        |         list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
        |           * 0.125 AS z
        |  FROM embeddings),
        |y AS (
        |  SELECT i - 1 AS dim, SUM(CAST(x AS DOUBLE) * z) AS y
        |  FROM (SELECT z, unnest(embedding) AS x,
        |               generate_subscripts(embedding, 1) AS i FROM e)
        |  GROUP BY 1),
        |n AS (SELECT SQRT(SUM(y * y)) AS nrm FROM y)
        |SELECT CAST(dim AS BIGINT) AS dim, ROUND(y / nrm, 6) AS loading,
        |       ROUND(nrm, 4) AS lambda
        |FROM y, n ORDER BY dim""".stripMargin)

  /** Class-balanced downsample: at most 60 documents per language, chosen
    * by the engine-portable md5 shuffle order (the [[Sampling]] recipe —
    * any SQL engine reproduces the same subset bit-for-bit). This is the
    * balance-the-label-distribution op run before training on skewed
    * corpora; the rank is a lang-partitioned window, so the scan stays
    * distributed by the group key and no global sort exists.
    */
  private def qBalancedSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(md5(concat(lit("bal|"), col("doc_id").cast("string"))), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 60)
      .select(col("lang"), col("doc_id"))
      .orderBy("lang", "doc_id")
  }
  // q_balanced_sample: identical portable md5 shuffle order, so both
  // engines pick the same 60-per-class subset bit-for-bit
  row("q_balanced_sample", qBalancedSample)(
      """WITH r AS (
        |  SELECT lang, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY md5(concat('bal|', CAST(doc_id AS VARCHAR))),
        |                    doc_id) AS rn
        |  FROM documents)
        |SELECT lang, doc_id FROM r WHERE rn <= 60
        |ORDER BY lang, doc_id""".stripMargin)

  /** Corpus coverage curve: the share of total characters held by the
    * top-1/5/10/25/50% largest documents — the concentration report
    * behind "half the corpus is a handful of giant files" curation calls
    * (the curve form of [[qGini]]'s scalar). The global size rank rides
    * [[PositionalTake.withGlobalIndex]] (range partition + zipWithIndex —
    * distributed at any corpus size, no single-partition window); the
    * five shares are conditional sums against the 1-row corpus-stats
    * attach, all exact integers until the final divisions.
    */
  private def qCoverageCurve(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val ranked = PositionalTake.withGlobalIndex(docs, Seq("n_chars", "doc_id"))
    val stats = docs.agg(
      count(lit(1)).as("n"), sum(col("n_chars")).as("total"))
    def share(pct: Int) =
      round(sum(when(col("idx") >= col("n") - floor(col("n") * pct / 100),
        col("n_chars")).otherwise(0L)) / col("total").cast("double"), 6)
        .as(s"share_top$pct")
    ranked.crossJoin(broadcast(stats))
      .groupBy("n", "total")
      .agg(share(1), share(5), share(10), share(25), share(50))
      .select(col("n").as("n_docs"), col("total").as("total_chars"),
        col("share_top1"), col("share_top5"), col("share_top10"),
        col("share_top25"), col("share_top50"))
  }
  // q_coverage_curve: same asc (n_chars, doc_id) rank; shares are exact
  // integer sums divided once
  row("q_coverage_curve", qCoverageCurve)(
      """WITH ranked AS (
        |  SELECT n_chars,
        |         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS idx,
        |         COUNT(*) OVER () AS n,
        |         SUM(n_chars) OVER () AS total
        |  FROM documents)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
        |       CAST(MAX(total) AS BIGINT) AS total_chars,
        |       ROUND(SUM(CASE WHEN idx >= n - FLOOR(n * 1 / 100)
        |                 THEN n_chars ELSE 0 END) /
        |             CAST(MAX(total) AS DOUBLE), 6) AS share_top1,
        |       ROUND(SUM(CASE WHEN idx >= n - FLOOR(n * 5 / 100)
        |                 THEN n_chars ELSE 0 END) /
        |             CAST(MAX(total) AS DOUBLE), 6) AS share_top5,
        |       ROUND(SUM(CASE WHEN idx >= n - FLOOR(n * 10 / 100)
        |                 THEN n_chars ELSE 0 END) /
        |             CAST(MAX(total) AS DOUBLE), 6) AS share_top10,
        |       ROUND(SUM(CASE WHEN idx >= n - FLOOR(n * 25 / 100)
        |                 THEN n_chars ELSE 0 END) /
        |             CAST(MAX(total) AS DOUBLE), 6) AS share_top25,
        |       ROUND(SUM(CASE WHEN idx >= n - FLOOR(n * 50 / 100)
        |                 THEN n_chars ELSE 0 END) /
        |             CAST(MAX(total) AS DOUBLE), 6) AS share_top50
        |FROM ranked""".stripMargin)

  /** Differential-privacy sensitivity report: the per-user contribution
    * bounds (rows, value mass, busiest day) a DP release needs before
    * choosing clipping thresholds — unbounded user contribution means
    * unbounded sensitivity means no ε guarantee. Two compact keyed
    * aggregates (per-user, per-user-day) reduced to one row of exact
    * maxima plus the p99 row-count quantile.
    */
  private def qDpSensitivity(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val perUser = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"), sum(col("value")).as("v_sum"))
    val perUserDay = ev.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_day"))
      .groupBy("user_id").agg(max(col("n_day")).as("max_day"))
    perUser.join(perUserDay, "user_id")
      .agg(
        count(lit(1)).as("n_users"),
        max(col("n_rows")).as("max_rows_per_user"),
        percentile(col("n_rows"), lit(0.99)).as("p99"),
        round(max(col("v_sum")), 4).as("max_value_sum_per_user"),
        max(col("max_day")).as("max_rows_per_user_day"))
      .select(col("n_users"), col("max_rows_per_user"),
        round(col("p99"), 4).as("p99_rows_per_user"),
        col("max_value_sum_per_user"), col("max_rows_per_user_day"))
  }
  // q_dp_sensitivity: exact integer maxima; the per-user double sum is
  // rounded only after the max
  row("q_dp_sensitivity", qDpSensitivity)(
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
        |pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |              SUM(value) AS v_sum
        |       FROM ev GROUP BY 1),
        |pud AS (SELECT user_id, CAST(MAX(n_day) AS BIGINT) AS max_day
        |        FROM (SELECT user_id, day, COUNT(*) AS n_day
        |              FROM ev GROUP BY 1, 2)
        |        GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(MAX(n_rows) AS BIGINT) AS max_rows_per_user,
        |       ROUND(QUANTILE_CONT(n_rows, 0.99), 4) AS p99_rows_per_user,
        |       ROUND(MAX(v_sum), 4) AS max_value_sum_per_user,
        |       CAST(MAX(max_day) AS BIGINT) AS max_rows_per_user_day
        |FROM pu JOIN pud USING (user_id)""".stripMargin)

  /** Peak concurrency via the interval-sweep pattern: per-user-per-day
    * sessions ([first event, last event]) opened as +1/closed as −1
    * boundary rows, swept in time order with a running sum — the maximum
    * is the most sessions ever open at once (capacity planning's number).
    * Boundary rows are 2 per session (compact); the sweep is SEGMENTED by
    * day — the standard distributed prefix-sum shape: each day's running
    * sum is a day-partitioned window, and the carry-in from all prior days
    * is a cumulative window over the per-day NET aggregate (one row per
    * day — KB-scale for years of data), so no window ever orders more than
    * one day's boundary rows on one task. (Sessions here are intra-day by
    * construction, making every carry-in zero — but the carry is computed,
    * not assumed, and each boundary row is tagged with the day of its OWN
    * timestamp, so the decomposition stays correct for midnight-spanning
    * intervals.) Ties order +1 before −1 so touching intervals count as
    * overlapping. The peak row is a 1-row broadcast max attach plus an
    * orderBy.limit(1) — no global rank window. Output: the peak and the
    * first sweep position attaining it.
    */
  private def qPeakConcurrency(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id", "day")
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
    // each boundary's sweep day comes from its OWN timestamp, not the
    // session's opening day (ADVICE r10): a close boundary landing past
    // midnight must sort into the NEXT day's partition for the carry
    // decomposition's ordering to hold on midnight-spanning intervals
    val bounds = sess
      .select(col("s_us").as("us"), lit(1).as("delta"))
      .unionAll(sess.select(col("e_us").as("us"), lit(-1).as("delta")))
      .withColumn("day", to_date(timestamp_micros(col("us"))))
      .groupBy("day", "us", "delta").agg(count(lit(1)).as("m"))
    val dayNet = bounds.groupBy("day")
      .agg(sum(col("delta") * col("m")).as("net"))
    val carryW = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = dayNet.select(col("day"),
      coalesce(sum(col("net")).over(carryW), lit(0L)).as("carry_in"))
    val sweep = Window.partitionBy("day")
      .orderBy(col("us"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val open = bounds
      .withColumn("run", sum(col("delta") * col("m")).over(sweep))
      .join(broadcast(carry), "day")
      .select(col("us"), col("delta"),
        (col("carry_in") + col("run")).as("open"))
    val peak = open.agg(max(col("open")).as("peak"))
    open.join(broadcast(peak), col("open") === col("peak"))
      .orderBy(col("us"), col("delta").desc)
      .limit(1)
      .select(col("open").as("peak_concurrent"), col("us").as("at_us"))
  }
  // q_peak_concurrency: same +1-before--1 sweep order (ties open before
  // close, so touching intervals overlap); exact integer running sum
  row("q_peak_concurrency", qPeakConcurrency)(
      """WITH sess AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT us, delta, CAST(COUNT(*) AS BIGINT) AS m FROM (
        |    SELECT s_us AS us, 1 AS delta FROM sess
        |    UNION ALL SELECT e_us, -1 FROM sess) GROUP BY 1, 2),
        |sw AS (
        |  SELECT us, delta,
        |         CAST(SUM(delta * m) OVER (ORDER BY us, delta DESC
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
        |  FROM b),
        |best AS (SELECT open, us FROM sw
        |         ORDER BY open DESC, us, delta DESC LIMIT 1)
        |SELECT open AS peak_concurrent, CAST(us AS BIGINT) AS at_us
        |FROM best""".stripMargin)

  /** Per-group weighted median: the l_extendedprice at which half the
    * QUANTITY mass of each return flag sits — the order statistic plain
    * medians get wrong when rows carry different weights. Classic
    * distributed shape: the sort and the cumulative-weight window are
    * PARTITIONED by the group key (no global sort), and the winner is the
    * first row whose running weight reaches half the group total (exact
    * integer-scaled comparisons — quantities are whole numbers carried as
    * doubles, so 2·cum ≥ total is exact).
    */
  private def qWeightedMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Aggregate-then-prefix (r20, the qAuc decomposition applied to the
    // weighted order statistic — r19 deferred this for the tie-handling
    // re-scan; the crossing-bucket re-scan below bounds that cost):
    // the old shape ranged-shuffled EVERY row into 3 flag partitions and
    // ran a full per-flag window sort of the 600k-row table — at scale a
    // 3-task sort of the whole fact. Now: (1) per-(flag, unit-price
    // bucket) weight totals — ONE map-side-combined aggregate, output
    // bounded by the price RANGE, not the row count; (2) per-flag
    // exclusive prefix over bucket totals finds the bucket where the
    // cumulative weight crosses half (window input = bucket rows only);
    // (3) a second scan re-reads JUST the crossing bucket's rows
    // (broadcast 3-row semi-join) and replays the row-level sweep inside
    // that bucket — the only per-row sort left is over one bucket per
    // flag. Quantity sums are whole numbers in doubles, so bucket-partial
    // summation is order-exact and cumw/totw are bit-identical to the
    // row-level window's running sums.
    val ord = col("l_extendedprice") +: liKey.map(col)
    val rows = Tables.lineitem(s, d)
      .select((Seq("l_returnflag", "l_quantity") ++ liKey.filterNot(
        Seq("l_returnflag", "l_quantity").contains)).map(col): _*)
    val perBucket = rows
      .groupBy(col("l_returnflag"), floor(col("l_extendedprice")).as("b"))
      .agg(sum(col("l_quantity")).as("bw"))
    val wPrefix = Window.partitionBy("l_returnflag").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy("l_returnflag")
    val crossing = perBucket
      .withColumn("lo", coalesce(sum(col("bw")).over(wPrefix),
        lit(0L).cast(perBucket.schema("bw").dataType)))
      .withColumn("totw", sum(col("bw")).over(wTot))
      // the first bucket whose INCLUSIVE prefix reaches half holds the
      // crossing row (all rows of earlier buckets are strictly below)
      .filter(lit(2.0) * (col("lo") + col("bw")) >= col("totw"))
      .groupBy(col("l_returnflag").as("xflag"))
      .agg(min(struct(col("b"), col("lo"), col("totw"))).as("x"))
      .select(col("xflag"), col("x.b").as("xb"),
        col("x.lo").as("xlo"), col("x.totw").as("xtotw"))
    val pick = Window.partitionBy("l_returnflag").orderBy(ord: _*)
    val cum = Window.partitionBy("l_returnflag")
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .join(broadcast(crossing),
        // null-safe equality: a (hypothetical) NULL flag or price is a
        // window partition / groupBy group in both shapes — an equi-join
        // would silently drop it here while the old windowed shape kept it
        col("l_returnflag") <=> col("xflag") &&
          floor(col("l_extendedprice")) <=> col("xb"))
      .withColumn("cumw", col("xlo") + sum(col("l_quantity")).over(cum))
      .filter(lit(2.0) * col("cumw") >= col("xtotw"))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_extendedprice").as("w_median"),
        col("cumw").cast("double").as("cum_weight"),
        col("xtotw").cast("double").as("total_weight"))
      .orderBy("l_returnflag")
  }
  // q_weighted_median: explicit ROWS frame (both engines default to
  // RANGE under ORDER BY, which merges price ties); quantity sums are
  // whole numbers in doubles, so the 2·cum >= total test is exact
  row("q_weighted_median", qWeightedMedian, Scaling)(
      """WITH x AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         SUM(l_quantity) OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber,
        |                    l_partkey, l_suppkey, l_quantity
        |           ROWS UNBOUNDED PRECEDING) AS cumw,
        |         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS totw,
        |         l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |  FROM lineitem),
        |f AS (
        |  SELECT l_returnflag, l_extendedprice, cumw, totw,
        |         ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber,
        |                    l_partkey, l_suppkey, l_quantity) AS rn
        |  FROM x WHERE 2.0 * cumw >= totw)
        |SELECT l_returnflag, l_extendedprice AS w_median,
        |       CAST(cumw AS DOUBLE) AS cum_weight,
        |       CAST(totw AS DOUBLE) AS total_weight
        |FROM f WHERE rn = 1 ORDER BY l_returnflag""".stripMargin)

  /** Declarative data-quality report ([[DataQuality.evaluate]]): five
    * named rules — domain membership, format regex, range, positivity,
    * and cross-table referential integrity (the FK flag pre-joined so
    * Catalyst plans ONE broadcast join + ONE aggregate pass for the whole
    * rule set) — compiled into per-rule conditional counters in a single
    * scan. Two rules genuinely fail on this corpus (late orders past the
    * freshness bound, totals under the floor), so the report exercises
    * both outcomes. Exact integer counts; rule count never adds scans.
    */
  private def qDqRules(s: SparkSession, d: String): DataFrame = {
    val custKeys = Tables.customer(s, d).select(col("c_custkey"))
    val base = Tables.orders(s, d)
      .join(broadcast(custKeys), col("o_custkey") === col("c_custkey"),
        "left")
      .withColumn("fk_ok", col("c_custkey").isNotNull)
    DataQuality.evaluate(base, Seq(
      "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
      "priority_format" -> col("o_orderpriority").rlike("^[1-5]-"),
      "date_fresh" ->
        (col("o_orderdate") < lit("2000-01-01").cast("timestamp")),
      "total_above_floor" -> (col("o_totalprice") >= 5000.0),
      "fk_customer" -> col("fk_ok")))
  }
  // q_dq_rules: plain conditional counts per rule
  row("q_dq_rules", qDqRules)(
      """WITH b AS (
        |  SELECT o.*, (c.c_custkey IS NOT NULL) AS fk_ok
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
        |             THEN 1 ELSE 0 END) AS BIGINT) AS p_status,
        |    CAST(SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
        |             THEN 1 ELSE 0 END) AS BIGINT) AS p_prio,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '2000-01-01'
        |             THEN 1 ELSE 0 END) AS BIGINT) AS p_fresh,
        |    CAST(SUM(CASE WHEN o_totalprice >= 5000.0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS p_floor,
        |    CAST(SUM(CASE WHEN fk_ok THEN 1 ELSE 0 END) AS BIGINT) AS p_fk
        |  FROM b
        |)
        |SELECT rule, n_rows, n_pass, n_rows - n_pass AS n_fail FROM (
        |  SELECT 'status_domain' AS rule, n_rows, p_status AS n_pass FROM m
        |  UNION ALL
        |  SELECT 'priority_format', n_rows, p_prio FROM m
        |  UNION ALL SELECT 'date_fresh', n_rows, p_fresh FROM m
        |  UNION ALL SELECT 'total_above_floor', n_rows, p_floor FROM m
        |  UNION ALL SELECT 'fk_customer', n_rows, p_fk FROM m
        |) ORDER BY rule""".stripMargin)

  /** Incremental aggregate MAINTENANCE: the daily revenue rollup kept as
    * two PARTIAL aggregates — a write-once staged base partial (even
    * order keys, standing artifact) and a freshly-computed delta partial
    * (odd keys) — merged by re-aggregating the union of partials
    * (Σ of Σ, Σ of counts: the associative-merge property that makes
    * partial aggregates composable). The deliberately OVERLAPPING day
    * keys across the two partials make this a true merge, not a
    * concatenation. At 100 TB this is the view-maintenance shape: the
    * standing partial is never rescanned from raw data — only the delta
    * is, and the merge runs over two compact day-keyed aggregates. The
    * oracle recomputes the rollup from scratch, pinning merge == rebuild.
    */
  private def incrementalPartial(
      s: SparkSession, d: String, parity: Int): DataFrame = Tables.orders(s, d)
    .filter(pmod(col("o_orderkey"), lit(2)) === parity)
    .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
    .agg(
      sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
      count(lit(1)).as("n_orders"))

  /** [[qIncrementalAgg]]'s base-partial staging plan, exposed for the
    * PlanAuditSpec pin (the [[partsuppStaging]] pattern): the corpus-wide
    * partial aggregate must reduce on a parallel exchange; only the
    * KB-scale day-keyed artifact write serializes — via a post-agg
    * `repartition(1)`, never `coalesce(1)` (which propagates into the
    * reduce stage and runs the aggregation on one task).
    */
  private[graft] def incrementalAggBase(s: SparkSession, d: String): DataFrame =
    incrementalPartial(s, d, 0).repartition(1)

  private def qIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val baseDir = s"/tmp/graft_incagg/${dirTag(d)}/base"
    stagedOnce(baseDir) {
      incrementalAggBase(s, d).write.mode("overwrite").parquet(baseDir)
    }
    Tables.parquet(s, baseDir)
      .unionAll(incrementalPartial(s, d, 1))
      .groupBy("day")
      .agg(sum(col("sum_cents")).as("sum_cents"),
        sum(col("n_orders")).as("n_orders"))
      .orderBy("day")
  }
  // q_incremental_agg: merge == rebuild — the from-scratch rollup
  row("q_incremental_agg", qIncrementalAgg)(
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY day""".stripMargin)

  /** Deterministic negative sampling for a (customer, part) interaction
    * model — the recsys/contrastive data-prep op: per customer, 3
    * hash-generated candidate parts (portable salted md5 onto the valid
    * part-id range), then the POSITIVES ANTI-JOIN — a generated candidate
    * the customer actually bought is dropped, which is the step naive
    * samplers skip and the reason this is a distributed op at all (the
    * positive set is corpus-sized; candidates join against it on the
    * compact (cust, part) key). Output is the per-customer negative count
    * plus the collision count with positives, both exact.
    */
  private def qNegativeSample(s: SparkSession, d: String): DataFrame = {
    val pos = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_partkey").as("partkey"))
      .distinct()
    val maxPk = Tables.part(s, d).agg(max(col("p_partkey")).as("max_pk"))
    val cand = Tables.customer(s, d).select(col("c_custkey").as("custkey"))
      .crossJoin(broadcast(maxPk))
      .select(col("custkey"), explode(array((1 to 3).map(lit): _*)).as("i"),
        col("max_pk"))
      .select(col("custkey"),
        (pmod(conv(substring(md5(concat(lit("neg|"), col("custkey"),
          lit("|"), col("i"))), 1, 12), 16, 10).cast("long"), col("max_pk"))
          + 1).as("partkey"))
    cand
      .join(pos.withColumn("is_pos", lit(1L)), Seq("custkey", "partkey"), "left")
      .groupBy("custkey")
      .agg(
        sum(when(col("is_pos").isNull, 1L).otherwise(0L)).as("n_negatives"),
        sum(when(col("is_pos").isNotNull, 1L).otherwise(0L)).as("n_collisions"))
      .orderBy("custkey")
  }
  // q_negative_sample: identical salted md5 candidate hash onto the
  // valid part-id range; positives anti-joined identically
  row("q_negative_sample", qNegativeSample)(
      """WITH pos AS (
        |  SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |mx AS (SELECT MAX(p_partkey) AS max_pk FROM part),
        |cand AS (
        |  SELECT c_custkey AS custkey,
        |         CAST(('0x' || substr(md5(concat('neg|',
        |                CAST(c_custkey AS VARCHAR), '|', CAST(i AS VARCHAR))),
        |              1, 12)) AS BIGINT) % max_pk + 1 AS partkey
        |  FROM customer, mx, generate_series(1, 3) AS t(i))
        |SELECT c.custkey,
        |       CAST(SUM(CASE WHEN p.partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_negatives,
        |       CAST(SUM(CASE WHEN p.partkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_collisions
        |FROM cand c LEFT JOIN pos p
        |  ON c.custkey = p.custkey AND c.partkey = p.partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Deterministic per-group sample: 5 documents per source, chosen by
    * the portable md5 rank (salted "gs|" — the sampling-salt discipline:
    * unsalted, this sampler would correlate with every other key-hash
    * sampler it composes with) — the "inspect a few examples from every
    * source" utility a corpus review runs. The per-key `row_number <= 5`
    * window is the [[graft.plans.RankLimitRule]] → TopKPerKey bounded-heap
    * shape: one partitioned shuffle, O(k) state per source, no full
    * per-group sort at any corpus size.
    */
  private def qGroupSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        md5(concat(lit("gs|"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")
  }
  // q_group_sample: identical salted portable md5 rank per source
  row("q_group_sample", qGroupSample)(
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY md5(concat('gs|', CAST(doc_id AS VARCHAR))),
        |                    doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin)

  /** Cross-split near-dup leakage matrix: how many near-dup pairs (the
    * write-once [[stagedDupPairs]] artifact at threshold 0.5) land with
    * both members in the same train/val/test split vs straddling two —
    * the contamination audit run on every split assignment before
    * training (a test document with a train near-dup inflates eval). The
    * pair set is read from the staged artifact (no pair recomputation);
    * split assignment is the portable md5 rule of `q_split_counts`, so
    * the oracle reproduces the exact matrix. Pairs are normalized to
    * (least, greatest) split so the matrix is triangular.
    */
  private def qSplitLeakage(s: SparkSession, d: String): DataFrame = {
    val sp = Sampling.assignSplitsPortable(
        Tables.documents(s, d).select(col("doc_id")), "doc_id",
        valFraction = 0.1, testFraction = 0.1)
      .select(col("doc_id"), col("split"))
    stagedDupPairs(s, d)
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .groupBy(
        least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
      .orderBy("split_a", "split_b")
  }
  // q_split_leakage: the q_dup_clusters exact pair set at 0.5 crossed
  // with the q_split_counts portable split rule
  row("q_split_leakage", qSplitLeakage)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i.id_a, i.id_b
        |  FROM inter i
        |  JOIN sizes sa ON i.id_a = sa.id
        |  JOIN sizes sb ON i.id_b = sb.id
        |  WHERE CAST(i.n_inter AS DOUBLE) /
        |        CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5),
        |sp AS (
        |  SELECT doc_id, CASE WHEN h < 100000 THEN 'val'
        |                      WHEN h < 200000 THEN 'test'
        |                      ELSE 'train' END AS split
        |  FROM (SELECT doc_id,
        |               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |                    AS BIGINT) % 1000000 AS h
        |        FROM documents))
        |SELECT LEAST(a.split, b.split) AS split_a,
        |       GREATEST(a.split, b.split) AS split_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       LEAST(a.split, b.split) <> GREATEST(a.split, b.split) AS is_leak
        |FROM pairs p
        |JOIN sp a ON p.id_a = a.doc_id
        |JOIN sp b ON p.id_b = b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Zero-seeded EWMA (α = ½) of the daily event-count series — the
    * smoothing monitor read next to [[qChangepoint]] and [[qTrendTest]].
    * Computed by the literal recursion eₜ = (eₜ₋₁ + cₜ)·½, folded over the
    * day series with `aggregate` — the per-day domain is compact by
    * construction (a decade is ~3,650 rows, KB-scale after the count
    * aggregate), so one row carries the sorted series through the fold and
    * explodes back. The previous closed form 2^-(t+1)·Σ cᵢ·2ⁱ was exact
    * only while cᵢ·2ᵗ stayed under 2⁵³ (~36 days at 1e5 events/day) and
    * overflowed to Infinity past t≈1023; the recursion is BOUNDED
    * (eₜ ≤ max c) for arbitrarily long ranges, and both engines evaluate
    * the identical (prev + c)·0.5 operation order, so values stay
    * bit-identical with the oracle's recursive CTE. The raw-event shuffle
    * is still the map-side-combined daily count — only the compact series
    * funnels through the fold.
    *
    * GAP SEMANTICS (deliberate, r10 verdict #7): decay steps are
    * PER-PRESENT-DAY — the recursion advances once per day that has
    * events, so a gap day contributes no extra halving. This is the
    * "observation-indexed" EWMA (smooth over the observed series), the
    * standard choice when absent days mean "no measurement" rather than
    * "measured zero"; a calendar-indexed variant would first densify the
    * day axis with zero counts (or decay by 2^-gap) — a different
    * monitor, not a bug fix. Both engines implement the same choice, so
    * the oracle pins it.
    */
  private def qEwma(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    daily
      .agg(array_sort(collect_list(struct(col("day"), col("c")))).as("series"))
      .select(aggregate(
        col("series"),
        struct(
          lit(0.0).as("e"),
          array().cast("array<struct<day:date,c:bigint,ewma:double>>")
            .as("out")),
        (acc, x) => {
          val e = (acc.getField("e") + x.getField("c")) * lit(0.5)
          struct(
            e.as("e"),
            array_append(acc.getField("out"),
              struct(x.getField("day").as("day"), x.getField("c").as("c"),
                e.as("ewma"))).as("out"))
        },
        acc => acc.getField("out")).as("out"))
      .select(explode(col("out")).as("r"))
      .select(
        date_format(col("r.day"), "yyyy-MM-dd").as("day"),
        col("r.c").as("c"),
        round(col("r.ewma"), 6).as("ewma"))
      .orderBy("day")
  }
  // q_ewma: the literal recursion e_t = (e_{t-1} + c_t) * 0.5 — the same
  // IEEE operation order as the engine's fold, so values are
  // bit-identical and stay bounded for arbitrarily long day ranges
  row("q_ewma", qEwma)(
      """WITH RECURSIVE x AS (
        |  SELECT day, c, ROW_NUMBER() OVER (ORDER BY day) AS t
        |  FROM (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM events GROUP BY 1)),
        |rec AS (
        |  SELECT t, day, c,
        |         (CAST(0.0 AS DOUBLE) + c) * CAST(0.5 AS DOUBLE) AS e
        |  FROM x WHERE t = 1
        |  UNION ALL
        |  SELECT x.t, x.day, x.c, (rec.e + x.c) * CAST(0.5 AS DOUBLE)
        |  FROM x JOIN rec ON x.t = rec.t + 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, c, ROUND(e, 6) AS ewma
        |FROM rec ORDER BY day""".stripMargin)

  /** Common-neighbor analysis of the near-dup graph: every document pair
    * sharing ≥ 1 neighbor, with its support count and whether the pair is
    * ALREADY an edge. A non-edge here is a link-prediction candidate
    * ("these two co-match the same documents but never matched directly"
    * — a threshold chaining templated families); an all-edges result is
    * the transitivity certificate (near-dup clusters are cliques — what
    * this corpus shows, consistent with [[qGraphTriangles]]). Standard
    * shape: symmetrize the oriented edge list, join adjacency to itself
    * on the SHARED neighbor (the only full-width shuffle, bounded by the
    * dedup family's degree ceilings upstream), count per pair, flag
    * membership with a left join.
    */
  private def qLinkPrediction(s: SparkSession, d: String): DataFrame = {
    val e = stagedDupPairs(s, d)
    val adj = e.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(e.select(col("id_b").as("u"), col("id_a").as("v")))
    val cand = adj.as("x").join(adj.as("y"), "u")
      .filter(col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("id_a"), col("y.v").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    cand.join(e.withColumn("is_edge", lit(true)), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("n_common"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"))
      .orderBy("id_a", "id_b")
  }
  // q_link_prediction: the q_dup_clusters exact pair set replayed, then
  // common-neighbor counting with existing edges anti-joined out
  row("q_link_prediction", qLinkPrediction)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i.id_a, i.id_b
        |  FROM inter i
        |  JOIN sizes sa ON i.id_a = sa.id
        |  JOIN sizes sb ON i.id_b = sb.id
        |  WHERE CAST(i.n_inter AS DOUBLE) /
        |        CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5),
        |adj AS (SELECT id_a AS u, id_b AS v FROM pairs
        |        UNION ALL SELECT id_b, id_a FROM pairs),
        |cand AS (
        |  SELECT x.v AS id_a, y.v AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM adj x JOIN adj y USING (u)
        |  WHERE x.v < y.v GROUP BY 1, 2)
        |SELECT c.id_a, c.id_b, c.n_common,
        |       p.id_a IS NOT NULL AS is_edge
        |FROM cand c
        |LEFT JOIN pairs p ON c.id_a = p.id_a AND c.id_b = p.id_b
        |ORDER BY c.id_a, c.id_b""".stripMargin)

  /** Two Lloyd iterations of k-means (k=4) over the embedding table — the
    * clustering pass a corpus pipeline runs for topic balance or
    * diversity-aware sampling. Classic distributed shape: centroids are
    * k×dim (KB-scale) and BROADCAST to the assignment join; per-point
    * work is linear and the two shuffles are compact (N×k partial
    * distances reduced map-side; (cluster, dim) cells for the update).
    * Portability discipline: deterministic init (the k lowest vec_ids),
    * argmin ties broken by cluster id, and the iteration-1 centroids
    * ROUNDED to 6 decimals so both engines enter iteration 2 with
    * bit-identical state. Output is the k-row cluster summary.
    */
  private def qKmeans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("x"))
    val cent0 = pts.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cluster"), col("pos"),
        col("x").as("c"))
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
      pts.join(broadcast(cent), "pos")
        .groupBy("vec_id", "cluster")
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cluster"), col("dist"))
    }
    val cent1 = pts
      .join(assign(cent0).select("vec_id", "cluster"), "vec_id")
      .groupBy("cluster", "pos")
      .agg(round(avg(col("x")), 6).as("c"))
    assign(cent1)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), round(sum(col("dist")), 4).as("inertia"))
      .orderBy("cluster")
  }
  // q_kmeans: the two Lloyd iterations replayed long-form; iteration-1
  // centroids rounded to 6 decimals in BOTH engines so iteration 2
  // starts from bit-identical state; argmin ties break on cluster id
  row("q_kmeans", qKmeans)(
      """WITH pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |cent0 AS (
        |  SELECT CAST(vec_id AS INT) AS cluster, pos, x AS c
        |  FROM pts WHERE vec_id < 4),
        |d1 AS (
        |  SELECT p.vec_id, c.cluster, SUM((p.x - c.c) * (p.x - c.c)) AS dist
        |  FROM pts p JOIN cent0 c ON p.pos = c.pos GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id
        |             ORDER BY dist, cluster) AS rn
        |    FROM d1) WHERE rn = 1),
        |cent1 AS (
        |  SELECT a.cluster, p.pos, ROUND(AVG(p.x), 6) AS c
        |  FROM pts p JOIN a1 a ON p.vec_id = a.vec_id GROUP BY 1, 2),
        |d2 AS (
        |  SELECT p.vec_id, c.cluster, SUM((p.x - c.c) * (p.x - c.c)) AS dist
        |  FROM pts p JOIN cent1 c ON p.pos = c.pos GROUP BY 1, 2),
        |a2 AS (
        |  SELECT vec_id, cluster, dist FROM (
        |    SELECT vec_id, cluster, dist,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id
        |             ORDER BY dist, cluster) AS rn
        |    FROM d2) WHERE rn = 1)
        |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
        |       ROUND(SUM(dist), 4) AS inertia
        |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Sample-ratio-mismatch check on the A/B assignment — the guardrail
    * every experimentation platform runs before reading a single metric
    * (a 50/50 split whose arms differ beyond chi-square noise means the
    * assignment itself is broken). Same portable md5 bucket as
    * [[qAbAssign]]; the statistic collapses algebraically to
    * (n_a−n_b)²/(n_a+n_b), so every term is an exact integer until one
    * final division.
    */
  private def qAbSrm(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long"),
      lit(1000000L))
    Tables.events(s, d)
      .select(col("user_id"), (bucket < 500000L).as("is_a"))
      .agg(
        countDistinct(when(col("is_a"), col("user_id"))).as("n_a"),
        countDistinct(when(!col("is_a"), col("user_id"))).as("n_b"))
      .select(
        col("n_a"), col("n_b"),
        round(
          (col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) /
            (col("n_a") + col("n_b")).cast("double"),
          6).as("chi2"))
  }
  // q_ab_srm: same md5 arm bucket as q_ab_assign; the chi-square
  // collapses to (n_a-n_b)^2/(n_a+n_b) — integers until one division
  row("q_ab_srm", qAbSrm)(
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |           AS BIGINT) % 1000000 < 500000 AS is_a
        |  FROM events)
        |SELECT CAST(COUNT(DISTINCT CASE WHEN is_a THEN user_id END)
        |            AS BIGINT) AS n_a,
        |       CAST(COUNT(DISTINCT CASE WHEN NOT is_a THEN user_id END)
        |            AS BIGINT) AS n_b,
        |       ROUND((n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE), 6)
        |         AS chi2
        |FROM u""".stripMargin)

  /** FORWARD as-of join ([[AsOfJoin.asOfJoinNext]]): each error event
    * picks the same user's NEXT purchase at-or-after it — the
    * time-to-recovery probe, the mirror of [[qAsOfJoin]]'s
    * latest-before direction. Same single-shuffle shape (tag + union +
    * one descending keyed window, no per-row range probing); the oracle
    * is the independent MIN-over-inequality-join formulation, so the
    * window trick is differentially checked, not assumed. Purchases
    * dedupe to (user, ts) first — the operator's uniqueness contract.
    * Timestamps stay in exact epoch MICROSECONDS end to end.
    */
  private def qAsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("err_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .distinct()
      .withColumn("next_us", col("p_us"))
    AsOfJoin.asOfJoinNext(errors, purchases, Seq("user_id"),
        "err_us", "p_us", Seq("next_us"))
      .select(col("event_id"), col("user_id"), col("err_us"),
        col("next_us"), (col("next_us") - col("err_us")).as("wait_us"))
      .orderBy("event_id")
  }
  // q_asof_forward: independent MIN-over-inequality-join formulation
  // of the forward as-of pick
  row("q_asof_forward", qAsofForward)(
      """WITH err AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS err_us
        |  FROM events WHERE event_type = 'error'
        |), pur AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'
        |), nxt AS (
        |  SELECT e.event_id, MIN(p.p_us) AS next_us
        |  FROM err e JOIN pur p
        |    ON p.user_id = e.user_id AND p.p_us >= e.err_us
        |  GROUP BY e.event_id
        |)
        |SELECT e.event_id, e.user_id, e.err_us, n.next_us,
        |       n.next_us - e.err_us AS wait_us
        |FROM err e LEFT JOIN nxt n ON e.event_id = n.event_id
        |ORDER BY e.event_id""".stripMargin)

  /** Decile lift / gains table — rank users by an activity score, cut
    * ANSI deciles, and read conversion concentration per decile with
    * cumulative lift: the standard evaluation for any targeting/quality
    * score before it gates a pipeline. The ranking rides the DISTRIBUTED
    * global index ([[PositionalTake.withGlobalIndex]] — range-partitioned
    * sort, never a single-partition ntile window) with the ANSI bucket
    * split replayed in closed form from (rank, n) — the [[qRfm]]
    * discipline at k=10; ties break on user_id so any engine's native
    * ntile reproduces the cut. Cumulative/total sums then ride the 10-row
    * decile grid (allowlisted compact-domain window); rates and lift are
    * mirrored exact-integer divisions.
    */
  private def qDecileLift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val n = users.agg(count(lit(1)).as("n_tot"))
    val ranked = PositionalTake.withGlobalIndex(
      users.select(col("user_id"), (-col("n_ev")).as("neg_ev"), col("conv")),
      Seq("neg_ev", "user_id"), "idx")
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked.crossJoin(broadcast(n))
      .select(col("conv"),
        expr("CASE WHEN idx < (n_tot % 10) * (n_tot div 10 + 1) " +
          "THEN idx div (n_tot div 10 + 1) + 1 " +
          "ELSE (n_tot % 10) + (idx - (n_tot % 10) * (n_tot div 10 + 1)) " +
          "div (n_tot div 10) + 1 END").as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .withColumn("cum_users", sum(col("n_users")).over(wCum))
      .withColumn("cum_conv", sum(col("n_conv")).over(wCum))
      .withColumn("tot_users", sum(col("n_users")).over(wAll))
      .withColumn("tot_conv", sum(col("n_conv")).over(wAll))
      .select(col("decile"), col("n_users"), col("n_conv"),
        (col("n_conv").cast("double") / col("n_users").cast("double"))
          .as("conv_rate"),
        when(col("tot_conv") > 0,
          (col("cum_conv").cast("double") / col("cum_users").cast("double")) /
            (col("tot_conv").cast("double") / col("tot_users").cast("double")))
          .as("cum_lift"))
      .orderBy("decile")
  }
  // q_decile_lift: DuckDB's native NTILE(10) over (n_ev DESC, user_id)
  // replays the closed-form ANSI split from the distributed global rank
  row("q_decile_lift", qDecileLift)(
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS n_ev,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv
        |  FROM events GROUP BY user_id
        |), d AS (
        |  SELECT conv,
        |         CAST(NTILE(10) OVER (ORDER BY n_ev DESC, user_id)
        |              AS BIGINT) AS decile
        |  FROM u
        |), g AS (
        |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
        |         CAST(SUM(conv) AS BIGINT) AS n_conv
        |  FROM d GROUP BY 1
        |), c AS (
        |  SELECT *,
        |         CAST(SUM(n_users) OVER (ORDER BY decile ROWS BETWEEN
        |              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS cum_users,
        |         CAST(SUM(n_conv) OVER (ORDER BY decile ROWS BETWEEN
        |              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS cum_conv,
        |         CAST(SUM(n_users) OVER () AS BIGINT) AS tot_users,
        |         CAST(SUM(n_conv) OVER () AS BIGINT) AS tot_conv
        |  FROM g
        |)
        |SELECT decile, n_users, n_conv,
        |       CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_rate,
        |       CASE WHEN tot_conv > 0 THEN
        |         (CAST(cum_conv AS DOUBLE) / CAST(cum_users AS DOUBLE)) /
        |         (CAST(tot_conv AS DOUBLE) / CAST(tot_users AS DOUBLE))
        |       END AS cum_lift
        |FROM c ORDER BY decile""".stripMargin)

  /** Two-proportion z-test on per-user conversion between the portable
    * md5 arms — the readout that turns [[qAbAssign]]'s assignment into a
    * ship/no-ship decision. Scale shape: conversion collapses to ONE
    * per-user flag first (user-keyed map-side-combinable aggregate), so
    * the four cell counts come from a scan of the compact user table —
    * never a ×4 Expand of the raw event stream (the multi-countDistinct
    * plan this row deliberately avoids). The z statistic is a mirrored
    * double chain over the four exact counts; IEEE-754 requires sqrt to
    * be correctly rounded, so — unlike pow()/exp(), banned in
    * [[qMinhashTuning]] — sqrt is safe cross-engine and z hashes
    * bit-for-bit unrounded.
    */
  private def qAbZtest(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long"),
      lit(1000000L))
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select((bucket < 500000L).as("is_a"), col("conv"))
    users
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a"), col("conv")).otherwise(0L)).as("c_a"),
        sum(when(!col("is_a"), col("conv")).otherwise(0L)).as("c_b"))
      // tiny fixtures can leave an arm EMPTY (sf0.001 has 15 users) —
      // the degenerate readout is NULL, not a division error, and the
      // CASE guard short-circuits the ANSI-mode division on both engines
      .withColumn("p_a",
        when(col("n_a") > 0,
          col("c_a").cast("double") / col("n_a").cast("double")))
      .withColumn("p_b",
        when(col("n_b") > 0,
          col("c_b").cast("double") / col("n_b").cast("double")))
      .withColumn("p",
        (col("c_a") + col("c_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      // pooled p of exactly 0 or 1 (tiny fixtures: EVERY user converts at
      // sf0.001) zeroes the standard error — also a NULL readout
      .withColumn("z",
        when(col("n_a") > 0 && col("n_b") > 0 &&
            col("c_a") + col("c_b") > 0 &&
            col("c_a") + col("c_b") < col("n_a") + col("n_b"),
          (col("p_a") - col("p_b")) /
            sqrt(col("p") * (lit(1.0) - col("p")) *
              (lit(1.0) / col("n_a").cast("double") +
                lit(1.0) / col("n_b").cast("double")))))
      .select(col("n_a"), col("n_b"), col("c_a"), col("c_b"),
        col("p_a"), col("p_b"), col("z"))
  }
  // q_ab_ztest: mirrored double chain over four exact counts; sqrt is
  // IEEE-correctly-rounded in both engines so z is bit-identical
  row("q_ab_ztest", qAbZtest)(
      """WITH u AS (
        |  SELECT user_id,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv
        |  FROM events GROUP BY user_id
        |), f AS (
        |  SELECT (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |               AS BIGINT) % 1000000 < 500000) AS is_a,
        |         conv
        |  FROM u
        |), s AS (
        |  SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(SUM(CASE WHEN is_a THEN conv ELSE 0 END) AS BIGINT) AS c_a,
        |         CAST(SUM(CASE WHEN NOT is_a THEN conv ELSE 0 END) AS BIGINT) AS c_b
        |  FROM f
        |), t AS (
        |  SELECT *,
        |         CASE WHEN n_a > 0
        |              THEN CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS p_a,
        |         CASE WHEN n_b > 0
        |              THEN CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS p_b,
        |         CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p
        |  FROM s
        |)
        |SELECT n_a, n_b, c_a, c_b, p_a, p_b,
        |       CASE WHEN n_a > 0 AND n_b > 0
        |                 AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
        |         (p_a - p_b) /
        |           SQRT(p * (CAST(1.0 AS DOUBLE) - p) *
        |                (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE) +
        |                 CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE)))
        |       END AS z
        |FROM t""".stripMargin)

  /** Event-time disorder audit: per-user out-of-order arrivals and worst
    * lateness per event type — the measurement that picks a streaming
    * watermark delay. The driver's event log is perfectly time-ordered,
    * so arrival delay is modeled with DETERMINISTIC md5 jitter (±1 h per
    * event, the portable-hash recipe) — the operator itself is the real
    * artifact: a per-USER cumulative event-time high-watermark (the
    * partition key keeps the window distributed), integer-microsecond
    * lateness, and a compact per-type rollup.
    */
  private def qOutOfOrder(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val jitterUs = pmod(
      conv(substring(md5(concat(lit("j|"), col("event_id").cast("string"))),
        1, 12), 16, 10).cast("long"),
      lit(7200000000L)) - lit(3600000000L)
    val w = Window.partitionBy("user_id").orderBy("arrival_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        (unix_micros(col("ts")) + jitterUs).as("arrival_us"))
      .withColumn("late_us", max(col("us")).over(w) - col("us"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_ooo"),
        coalesce(max(when(col("late_us") > 0, col("late_us"))), lit(0L))
          .as("max_late_us"))
      .select(col("event_type"), col("n"), col("n_ooo"),
        (col("max_late_us") / 1000000L).cast("long").as("max_late_s"))
      .orderBy("event_type")
  }
  // q_out_of_order: identical md5 arrival jitter, per-user cumulative
  // high-watermark, integer-microsecond lateness
  row("q_out_of_order", qOutOfOrder)(
      """WITH x AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |         epoch_us(ts) +
        |           (CAST(('0x' || substr(md5('j|' || CAST(event_id AS VARCHAR)),
        |                  1, 12)) AS BIGINT) % 7200000000 - 3600000000)
        |           AS arrival_us
        |  FROM events),
        |y AS (
        |  SELECT event_type, us,
        |         MAX(us) OVER (PARTITION BY user_id
        |           ORDER BY arrival_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us
        |           AS late_us
        |  FROM x)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_ooo,
        |       CAST(COALESCE(MAX(CASE WHEN late_us > 0 THEN late_us END), 0)
        |            // 1000000 AS BIGINT) AS max_late_s
        |FROM y GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** JSON scalar extraction from the event props column. */
  private def qEventsJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")
  row("q_events_json", qEventsJson)(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)

  /** Semi-structured analytics through the VARIANT type (Spark 4):
    * `parse_json` decodes each `props` document ONCE into the binary
    * columnar VARIANT encoding and `variant_get` does typed path access
    * on the decoded form — the scale story vs [[qEventsJson]]'s
    * `get_json_object`, which re-parses the JSON STRING on every path
    * touch (one parse per path per row; a wide extraction re-tokenizes
    * the document k times, where VARIANT pays one parse then O(path)
    * binary walks). Grouped rollup by the extracted key's decade with
    * exact measures only: counts, min/max of the key, and the value sum
    * in exact 1e-4 units (a raw double sum is partial-order-dependent
    * and would not be bit-stable across engines). The oracle extracts
    * the same path with DuckDB's native JSON reader — the differential
    * checks the VARIANT decode end to end.
    */
  private def qVariant(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        col("value"))
      .groupBy((col("k") - pmod(col("k"), lit(10))).as("k_decade"))
      .agg(
        count(lit(1)).as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(round(col("value") * 10000).cast("long")).as("sum_value_u4"))
      .orderBy("k_decade")
  // q_variant: DuckDB's native JSON reader extracts the same path the
  // VARIANT decode serves on the Spark side; measures all exact.
  // Decade is FLOOR-mod on both sides (Spark pmod(k,10) is
  // always-positive; DuckDB % truncates toward zero, so the oracle
  // normalizes: ((k % 10) + 10) % 10 — ADVICE r11: without this the
  // two sides diverge for negative k, e.g. -13 → -20 vs -10).
  row("q_variant", qVariant)(
      """WITH x AS (
        |  SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, value
        |  FROM events)
        |SELECT k - (((k % 10) + 10) % 10) AS k_decade,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(k) AS min_k, MAX(k) AS max_k,
        |       CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT)
        |         AS sum_value_u4
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)

  /** In-flight data-quality metrics via the Observation API
    * (`df.observe` → `CollectMetrics`): the quality counters piggyback
    * on the SAME single pass that feeds the sink — the operational shape
    * for ETL writes at 100 TB, where a separate validation query would
    * re-scan the table (here: one noop-sink pass, metrics collected as
    * accumulator-style aggregates on the executors, zero extra scans).
    * Emitted metrics are all exact (counts, whole-number quantity sum,
    * a predicate count), so the 1-row result is fully oracled by a
    * DuckDB recompute of the same aggregates.
    */
  private def qObserve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation()
    Tables.lineitem(s, d)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        count(when(col("l_discount") > 0.05, 1)).as("n_disc_gt5"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long],
        m("sum_qty").asInstanceOf[Double],
        m("n_disc_gt5").asInstanceOf[Long]))
      .toDF("n_rows", "sum_qty", "n_disc_gt5")
  }
  // q_observe: the observed single-pass metrics, recomputed directly
  row("q_observe", qObserve)(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
        |         AS n_disc_gt5
        |FROM lineitem""".stripMargin)

  /** Ordered-sequence funnel (view → click-after-view →
    * purchase-after-click): per-stage user counts where each stage's event
    * must strictly follow the user's earliest previous-stage event. Every
    * stage is a per-user min-reduce (map-side partial agg) followed by a
    * user_id-keyed join — every shuffle in the plan is keyed on user_id
    * alone, and each stage's wide state is one timestamp per surviving
    * user (the event stream itself is reduced map-side before any
    * exchange). The stage joins are AQE-sized: survivor sets shrink
    * monotonically, so later stages broadcast.
    */
  private def qFunnel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("user_id", "event_type", "ts")
    def stage(evType: String, prev: DataFrame, prevTs: String, outTs: String) =
      e.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevTs))
        .groupBy("user_id")
        .agg(min(col("ts")).as(outTs))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = stage("click", v, "t_view", "t_click")
    val p = stage("purchase", c, "t_click", "t_purchase")
    v.select(lit(1).as("stage"), col("user_id"))
      .union(c.select(lit(2).as("stage"), col("user_id")))
      .union(p.select(lit(3).as("stage"), col("user_id")))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }
  row("q_funnel", qFunnel)(
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |  GROUP BY e.user_id)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        |  SELECT CAST(1 AS INT) AS stage, user_id FROM v
        |  UNION ALL SELECT CAST(2 AS INT), user_id FROM c
        |  UNION ALL SELECT CAST(3 AS INT), user_id FROM p)
        |GROUP BY stage ORDER BY stage""".stripMargin)

  /** Cohort retention: users grouped by first-seen day, counted on day
    * offsets 0/1/7/14. The cohort assignment is a per-user min-reduce; the
    * activity join is user_id-keyed (same partitioning as the cohort
    * reduce); the final matrix is tiny. At 100 TB the only wide state is
    * one (user_id, cohort_day) row per user — the offset filter prunes the
    * activity stream before the distinct-count shuffle.
    */
  private def qRetention(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    e.join(cohort, "user_id")
      .select(
        col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .filter(col("day_offset").isin(0, 1, 7, 14))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }
  row("q_retention", qRetention)(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
        |x AS (
        |  SELECT e.user_id, c.cohort_day,
        |         CAST(datediff('day', c.cohort_day, e.day) AS INT) AS day_offset
        |  FROM e JOIN cohort c ON e.user_id = c.user_id)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM x WHERE day_offset IN (0, 1, 7, 14)
        |GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""".stripMargin)

  /** Pure-SQL path through the registered graft_* functions: the library's
    * SQL surface (`GraftExtensions` / `GraftFunctions.registerAll`).
    */
  private def qSqlText(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.registerAll(s)
    val docs = tempView(s, d, "graft_documents", Tables.documents(s, d))
    s.sql(
      s"""SELECT doc_id AS id,
         |       CAST(size(graft_tokenize(text)) AS BIGINT) AS n_tokens,
         |       CAST(size(graft_word_shingles(text, 3)) AS BIGINT) AS n_shingles
         |FROM $docs ORDER BY id""".stripMargin)
  }
  row("q_sql_text", qSqlText)(
      """SELECT doc_id AS id,
        |       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                            x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |       CAST(GREATEST(len(list_distinct(
        |              [concat_ws(' ', t[i], t[i+1], t[i+2])
        |               for i in generate_series(1, greatest(len(t)-2, 1))])), 1) AS BIGINT)
        |         AS n_shingles
        |FROM (SELECT doc_id, text,
        |             list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                         x -> len(x) > 0) AS t
        |      FROM documents)
        |ORDER BY id""".stripMargin)

  /** Spark 4 COLLATION surface: grouping under the case-insensitive
    * UTF8_LCASE collation — comparison semantics attached to the TYPE, so
    * every operator downstream (group-by here; joins, distinct, order-by
    * equally) honors them without scattering `lower()` calls, and the
    * collation-aware hash stays codegen'd. Mixed-case inputs are
    * fabricated deterministically (every even event upper-cased); the
    * emitted key is explicitly lower-cased because a CI group's
    * REPRESENTATIVE value is engine-arbitrary — exactly the pitfall this
    * row documents. Oracle = the lower()-normalized classic grouping.
    */
  private def qCollation(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        when(pmod(col("event_id"), lit(2)) === 0, upper(col("event_type")))
          .otherwise(col("event_type")).as("et"))
      .groupBy(expr("et COLLATE UTF8_LCASE").as("et_ci"))
      .agg(count(lit(1)).as("n"))
      .select(lower(col("et_ci")).as("event_type"), col("n"))
      .orderBy("event_type")
  // q_collation: lower()-normalized classic grouping
  row("q_collation", qCollation)(
      """SELECT lower(CASE WHEN event_id % 2 = 0 THEN upper(event_type)
        |             ELSE event_type END) AS event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Spark 4 SQL SCRIPTING (`BEGIN … END`): a declared session variable
    * feeds two sequential statements — a procedural surface (variables,
    * control flow) that ports stored-procedure-style logic WITHOUT a
    * driver-side string-formatting layer; each statement inside the block
    * still plans through Catalyst, and the block returns the last
    * statement's result. The conf flag is scoped to the call
    * ([[Support.withConf]]). The variable participates in
    * constant folding, so the filter still pushes to the scan. The cut is
    * MAX/2, not AVG — max of doubles is exact and halving is a power-of-two
    * scale, so the threshold is bit-identical cross-engine; an averaged
    * cut would carry summation-order ulps that can flip membership of a
    * price sitting near it.
    */
  private def qSqlScript(s: SparkSession, d: String): DataFrame = {
    val ord = tempView(s, d, "graft_orders", Tables.orders(s, d))
    withConf(s, "spark.sql.scripting.enabled" -> "true") {
      s.sql(
        s"""BEGIN
           |  DECLARE graft_cut DOUBLE DEFAULT 0.0;
           |  SET graft_cut = (SELECT MAX(o_totalprice) / 2 FROM $ord);
           |  SELECT o_orderpriority,
           |         COUNT(*) AS n_above,
           |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
           |              AS BIGINT) AS sum_cents
           |  FROM $ord WHERE o_totalprice > graft_cut
           |  GROUP BY o_orderpriority ORDER BY o_orderpriority;
           |END""".stripMargin)
    }
  }
  // q_sql_script: classic-syntax equivalent of the scripted block;
  // the MAX/2 cut is bit-identical cross-engine
  row("q_sql_script", qSqlScript)(
      """SELECT o_orderpriority,
        |       COUNT(*) AS n_above,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_totalprice > (SELECT MAX(o_totalprice) / 2 FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Spark 4 SQL surface: PIPE syntax (`|>` — linear dataflow SQL, each
    * stage a Catalyst-planned relational op, not string preprocessing)
    * combined with a NAMED PARAMETER marker (`:minprice` bound via
    * `sql(text, args)` — injection-proof parameterization, the contract a
    * query service needs). The pipeline parses to exactly the plan the
    * classic form produces — filter → project → hash aggregate with
    * map-side combine — so the feature costs nothing at scale; the oracle
    * is the classic-syntax equivalent, pinning that pipe syntax is pure
    * surface, not semantics.
    */
  private def qSqlPipe(s: SparkSession, d: String): DataFrame = {
    val ord = tempView(s, d, "graft_orders", Tables.orders(s, d))
    s.sql(
      s"""FROM $ord
         ||> WHERE o_totalprice > :minprice
         ||> EXTEND CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
         ||> AGGREGATE COUNT(*) AS n_orders, SUM(cents) AS sum_cents
         |   GROUP BY o_orderpriority
         ||> ORDER BY o_orderpriority""".stripMargin,
      Map("minprice" -> 100000))
  }
  // q_sql_pipe: the classic-syntax equivalent of the pipe pipeline
  row("q_sql_pipe", qSqlPipe)(
      """SELECT o_orderpriority,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Spark 4 `GROUP BY ALL` — group by every non-aggregate SELECT item,
    * resolved at analysis time (the analyzer expands ALL to the explicit
    * grouping list, so the plan, exchange, and codegen are IDENTICAL to
    * the spelled-out `GROUP BY 1, 2`; this is an API-surface row, not a
    * new physical shape). The production value at 100 TB is
    * maintenance-shaped: wide rollups whose dimension list evolves can't
    * silently drift between the SELECT and the GROUP BY. DuckDB
    * originated the syntax, so the oracle mirrors it verbatim — the one
    * catalog row whose oracle SQL is character-identical to the Spark
    * SQL.
    */
  private def qGroupByAll(s: SparkSession, d: String): DataFrame = {
    val ord = tempView(s, d, "graft_orders", Tables.orders(s, d))
    s.sql(
      s"""SELECT o_orderstatus, o_orderpriority,
         |       CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |         AS sum_cents
         |FROM $ord
         |GROUP BY ALL
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
  }
  // q_group_by_all: DuckDB originated GROUP BY ALL — oracle mirrors
  // the surface verbatim
  row("q_group_by_all", qGroupByAll)(
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)

  /** PARAMETERIZED QUERY (`spark.sql(text, args)` named-parameter
    * markers) — the injection-safe surface a production catalog serves
    * untrusted filters through: values bind as TYPED literals at parse
    * time (`:seg` a string, `:floor` a double, `:segs` an ARRAY bound
    * into an IN-style membership test), never via string interpolation,
    * so a hostile segment name cannot become SQL. Because markers bind
    * as literals, everything downstream behaves as if the values were
    * inline: the predicate still pushes to the parquet scan and constant-
    * folds — parameterization costs nothing at plan time (one text, many
    * binds also keys the plan cache by the TEXT, not the values). The
    * oracle is the same query with the literals spelled inline.
    */
  private def qParamQuery(s: SparkSession, d: String): DataFrame = {
    val cust = tempView(s, d, "graft_customer", Tables.customer(s, d))
    s.sql(
      s"""SELECT c_mktsegment,
         |       CAST(COUNT(*) AS BIGINT) AS n_customers,
         |       MIN(c_custkey) AS min_key,
         |       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         |         AS sum_bal_cents
         |FROM $cust
         |WHERE (array_contains(:segs, c_mktsegment) OR c_mktsegment = :seg)
         |  AND c_acctbal >= :floor
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
      Map(
        "segs" -> Array("BUILDING", "MACHINERY"),
        "seg" -> "AUTOMOBILE",
        "floor" -> 250.0))
  }
  // q_param_query: the same query with the parameter literals inline
  row("q_param_query", qParamQuery)(
      """SELECT c_mktsegment,
        |       CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       MIN(c_custkey) AS min_key,
        |       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_bal_cents
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
        |  AND c_acctbal >= CAST(250.0 AS DOUBLE)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)

  /** `IDENTIFIER(:param)` — the injection-safe surface for dynamic NAMES
    * (the piece [[qParamQuery]]'s value binds cannot cover: a parameter
    * marker binds a literal, never a table or column reference, so
    * templated object names historically meant string concatenation —
    * the classic injection hole in multi-tenant catalogs where the
    * tenant picks the table). `IDENTIFIER(:t)` parses the bound STRING
    * as a name at analysis time: it resolves or fails as an identifier,
    * and can never smuggle a predicate or an extra statement. Same
    * grouped scan as any static query once resolved — pure parse-time
    * surface, zero plan cost.
    */
  private def qIdentifierParam(s: SparkSession, d: String): DataFrame = {
    val ord = tempView(s, d, "graft_orders", Tables.orders(s, d))
    s.sql(
      s"""SELECT o_orderpriority,
         |       CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       MAX(IDENTIFIER(:c)) AS max_price
         |FROM IDENTIFIER(:t)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
      Map("t" -> ord, "c" -> "o_totalprice"))
  }
  // q_identifier_param: the same grouped scan with the names inline
  row("q_identifier_param", qIdentifierParam)(
      """SELECT o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       MAX(o_totalprice) AS max_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)

  /** Typed custom aggregate (the reference's `aggregator_fn_t` seam →
    * `Aggregator[IN,BUF,OUT]`, SURVEY §2.3): Welford mean/variance.
    */
  private def qStatsMoments(s: SparkSession, d: String): DataFrame = {
    val moments = udaf(TypedAggregates.Moments)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(moments(col("l_quantity")).as("m"))
      .select(
        col("l_returnflag"),
        round(col("m._1"), 4).as("mean_qty"),
        round(col("m._2"), 4).as("var_qty"))
      .orderBy("l_returnflag")
  }
  row("q_stats_moments", qStatsMoments)(
      """SELECT l_returnflag,
        |       ROUND(AVG(l_quantity), 4) AS mean_qty,
        |       ROUND(VAR_SAMP(l_quantity), 4) AS var_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Importance-weighted sampling (training-mix primitive): keep each
    * document with probability `min(1, n_chars/1000)` — longer documents
    * preferred — decided by the engine-portable per-key hash, so the
    * sampled SET itself is DuckDB-checked, not just its size. One scan,
    * no shuffle before the final summary aggregate.
    */
  private def qWeightedSample(s: SparkSession, d: String): DataFrame =
    Sampling.weightedPortableSample(
      Tables.documents(s, d)
        .withColumn("w", least(lit(1.0), col("n_chars") / lit(1000.0))),
      "doc_id", "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), round(sum(col("w")), 4).as("sum_w"))
      .orderBy("lang")
  row("q_weighted_sample", qWeightedSample)(
      """WITH x AS (
        |  SELECT lang,
        |         LEAST(CAST(1.0 AS DOUBLE),
        |               CAST(n_chars AS DOUBLE) / CAST(1000.0 AS DOUBLE)) AS w,
        |         CAST(('0x' || substr(md5('w|' || CAST(doc_id AS VARCHAR)), 1, 12))
        |              AS BIGINT) % 1000000 AS h
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |       ROUND(SUM(w), 4) AS sum_w
        |FROM x WHERE CAST(h AS DOUBLE) < w * 1000000
        |GROUP BY lang ORDER BY lang""".stripMargin)

  /** Sample-to-target-mix (the data-mixing step of a training pipeline):
    * resample the corpus so sources sit in a prescribed ratio — here
    * "curated" sources src10–19 weighted 3× over src0–9 — keeping the
    * scarcest source whole ([[graft.ext.Sampling.sampleToMix]]). Source
    * counts ride as an in-plan broadcastable table; membership is the
    * portable hash, so the exact sampled multiset is oracle-checked.
    */
  private def qSampleMix(s: SparkSession, d: String): DataFrame = {
    val target = (0 until 20)
      .map(i => s"src$i" -> (if (i < 10) 1.0 else 3.0)).toMap
    Sampling.sampleToMix(Tables.documents(s, d), "doc_id", "source", target)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("source")
  }
  row("q_sample_mix", qSampleMix)(
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |              THEN CAST(1.0 AS DOUBLE) ELSE CAST(3.0 AS DOUBLE) END AS t,
        |         CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 12))
        |              AS BIGINT) % 1000000 AS h
        |  FROM documents),
        |n AS (SELECT source, COUNT(*) AS n_src FROM d GROUP BY source),
        |r AS (SELECT d.source, d.h, d.t, n.n_src,
        |             MIN(CAST(n.n_src AS DOUBLE) / d.t) OVER () AS tt
        |      FROM d JOIN n USING (source))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled
        |FROM r
        |WHERE CAST(h AS DOUBLE) < t * tt / CAST(n_src AS DOUBLE) * 1000000
        |GROUP BY source ORDER BY source""".stripMargin)

  /** Deterministic mod-sample: engine-portable membership (`key % m = 0`),
    * so the DuckDB oracle reproduces the exact sampled SET. The hash-based
    * split assignment is its own oracled row ([[qSplitCounts]]).
    */
  private def qSample(s: SparkSession, d: String): DataFrame =
    Sampling.modSample(Tables.orders(s, d), "o_orderkey", m = 10)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  row("q_sample", qSample)(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""".stripMargin)

  /** Per-stratum deterministic sample (balance a training mix): an
    * independent 20% within every event_type, on the engine-portable md5
    * hash so the DuckDB oracle reproduces the exact sampled SET, not just
    * its size. Stable under repartitioning — membership is a pure function
    * of (stratum, key) — which `df.sample`/`sampleBy` are not.
    */
  private def qStratifiedSample(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedPortableSample(
        Tables.events(s, d), "event_id", "event_type", fraction = 0.2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("event_id")).cast("long").as("sum_ids"))
      .orderBy("event_type")
  // q_stratified_sample: sum_ids pins the exact sampled SET per stratum,
  // not just its cardinality
  row("q_stratified_sample", qStratifiedSample)(
      """SELECT event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |       CAST(SUM(event_id) AS BIGINT) AS sum_ids
        |FROM (SELECT event_type, event_id,
        |             CAST(('0x' || substr(md5(
        |                 CAST(length(event_type) AS VARCHAR) || ':' ||
        |                 event_type || '|' ||
        |                 CAST(length(CAST(event_id AS VARCHAR)) AS VARCHAR) || ':' ||
        |                 CAST(event_id AS VARCHAR)), 1, 12))
        |                  AS BIGINT) % 1000000 AS h
        |      FROM events)
        |WHERE h < 200000
        |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Train/val/test assignment on the engine-portable md5 key hash — the
    * same SQL reproduces the split in DuckDB, which makes the disjoint
    * partition itself oracle-checkable (the xxhash64 variant stays
    * available as [[Sampling.assignSplits]] for Spark-only pipelines).
    */
  private def qSplitCounts(s: SparkSession, d: String): DataFrame =
    Sampling.assignSplitsPortable(Tables.documents(s, d), "doc_id",
        valFraction = 0.1, testFraction = 0.1)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split")
  row("q_split_counts", qSplitCounts)(
      """SELECT CASE WHEN h < 100000 THEN 'val'
        |            WHEN h < 200000 THEN 'test'
        |            ELSE 'train' END AS split,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |                  AS BIGINT) % 1000000 AS h
        |      FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin)

  /** Ranking/navigation window battery: lag, lead, ntile, percent_rank,
    * cume_dist over a per-group total order (full unique key ⇒
    * deterministic across engines).
    */
  private def qWindowFuncs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("o_totalprice"), col("o_orderkey"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(ord: _*)
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        col("o_orderpriority"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .orderBy("o_orderkey")
  }
  row("q_window_funcs", qWindowFuncs)(
      """SELECT o_orderkey, o_orderpriority,
        |       lag(o_totalprice, 1) OVER w AS prev_price,
        |       lead(o_totalprice, 1) OVER w AS next_price,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       ROUND(percent_rank() OVER w, 6) AS pct_rank,
        |       ROUND(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)

  /** Time-RANGE rolling window: per event, count/sum of the SAME TYPE's
    * events in the trailing hour — a RANGE frame over epoch seconds, the
    * per-row sliding aggregate (vs `q_events_window`'s tumbling buckets).
    * RANGE semantics include peers, so ties on the timestamp are
    * order-independent and the result is deterministic in both engines.
    */
  private def qRollingWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_sec"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, d)
      .select(
        col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_sec"), col("value"))
      .select(
        col("event_id"), col("event_type"),
        count(lit(1)).over(w).as("n_prev_hour"),
        round(sum(col("value")).over(w), 4).as("sum_prev_hour"))
      .orderBy("event_id")
  }
  // q_rolling_window: floor(epoch(·)) matches Spark's unix_timestamp
  // truncation of the µs-truncated nanos timestamp
  row("q_rolling_window", qRollingWindow)(
      """SELECT event_id, event_type,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_prev_hour,
        |       ROUND(SUM(value) OVER w, 4) AS sum_prev_hour
        |FROM (SELECT event_id, event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
        |      FROM events)
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts_sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)

  /** HAVING + IN-subquery (TPC-H Q18 shape): orders whose total line
    * quantity clears a threshold.
    */
  private def qHavingIn(s: SparkSession, d: String): DataFrame = {
    val orders = tempView(s, d, "graft_orders", Tables.orders(s, d))
    val li = tempView(s, d, "graft_lineitem", Tables.lineitem(s, d))
    s.sql(
      s"""SELECT o.o_orderkey, o.o_totalprice,
         |       CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
         |FROM $orders o JOIN $li l ON o.o_orderkey = l.l_orderkey
         |WHERE o.o_orderkey IN (SELECT l_orderkey FROM $li
         |                       GROUP BY l_orderkey HAVING SUM(l_quantity) > 210)
         |GROUP BY o.o_orderkey, o.o_totalprice
         |ORDER BY o.o_orderkey""".stripMargin)
  }
  row("q_having_in", qHavingIn)(
      """SELECT o.o_orderkey, o.o_totalprice,
        |       CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                       GROUP BY l_orderkey HAVING SUM(l_quantity) > 210)
        |GROUP BY o.o_orderkey, o.o_totalprice
        |ORDER BY o.o_orderkey""".stripMargin)

  /** Explicit GROUPING SETS — the general form behind rollup/cube. */
  private def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    val li = tempView(s, d, "graft_lineitem", Tables.lineitem(s, d))
    s.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
         |       COUNT(*) AS n
         |FROM $li
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }
  row("q_grouping_sets", qGroupingSets)(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  /** Left outer join with null-aware aggregation: per customer, the count
    * and value of URGENT orders (0 for customers with none — the rows an
    * inner join would drop).
    */
  private def qOuterJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_urgent"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("urgent_value"))
      .orderBy("c_custkey")
  }
  row("q_outer_join", qOuterJoin)(
      """SELECT c.c_custkey,
        |       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_urgent,
        |       ROUND(COALESCE(SUM(o.o_totalprice), 0.0), 2) AS urgent_value
        |FROM customer c LEFT JOIN (SELECT * FROM orders
        |                           WHERE o_orderpriority = '1-URGENT') o
        |  ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin)

  /** Full outer join of two keyed aggregates (urgent vs low order counts
    * per customer) — exercises null key coalescing on both sides.
    */
  private def qFullOuterJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_urgent"))
    val b = o.filter(col("o_orderpriority") === "5-LOW")
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_low"))
    a.join(b, Seq("k"), "full_outer")
      .select(
        col("k"),
        coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
        coalesce(col("n_low"), lit(0L)).as("n_low"))
      .orderBy("k")
  }
  row("q_full_outer_join", qFullOuterJoin)(
      """WITH a AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_urgent
        |           FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |     b AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_low
        |           FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1)
        |SELECT COALESCE(a.k, b.k) AS k,
        |       COALESCE(a.n_urgent, 0) AS n_urgent,
        |       COALESCE(b.n_low, 0) AS n_low
        |FROM a FULL OUTER JOIN b ON a.k = b.k
        |ORDER BY k""".stripMargin)

  /** CUBE grouping sets with grouping flags (ROLLUP's sibling). */
  private def qCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"),
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(
        col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  row("q_cube", qCube)(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST,
        |         l_linestatus NULLS FIRST""".stripMargin)

  /** Correlated EXISTS (TPC-H Q4 shape): orders with at least one
    * max-quantity line, counted by priority.
    */
  private def qExistsCorrelated(s: SparkSession, d: String): DataFrame = {
    val orders = tempView(s, d, "graft_orders", Tables.orders(s, d))
    val li = tempView(s, d, "graft_lineitem", Tables.lineitem(s, d))
    s.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders
         |FROM $orders o
         |WHERE EXISTS (SELECT 1 FROM $li l
         |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin)
  }
  row("q_exists_correlated", qExistsCorrelated)(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Correlated scalar subquery: line items priced at their order's
    * minimum (Q2's min-per-group shape on the tables we have).
    */
  private def qCorrelatedScalar(s: SparkSession, d: String): DataFrame = {
    val li = tempView(s, d, "graft_lineitem", Tables.lineitem(s, d))
    s.sql(
      s"""SELECT l_orderkey, l_extendedprice
         |FROM $li l1
         |WHERE l_extendedprice = (SELECT MIN(l2.l_extendedprice)
         |                         FROM $li l2
         |                         WHERE l2.l_orderkey = l1.l_orderkey)
         |ORDER BY l_orderkey, l_extendedprice""".stripMargin)
  }
  row("q_correlated_scalar", qCorrelatedScalar)(
      """SELECT l_orderkey, l_extendedprice
        |FROM lineitem l1
        |WHERE l_extendedprice = (SELECT MIN(l2.l_extendedprice)
        |                         FROM lineitem l2
        |                         WHERE l2.l_orderkey = l1.l_orderkey)
        |ORDER BY l_orderkey, l_extendedprice""".stripMargin)

  /** arg-min/arg-max aggregates (value at the extremum of another column —
    * keyed on the unique o_orderkey so ties cannot occur).
    */
  private def qArgMinMax(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_totalprice"), col("o_orderkey")).as("price_at_max_key"),
        min_by(col("o_totalprice"), col("o_orderkey")).as("price_at_min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderpriority")
  row("q_arg_minmax", qArgMinMax)(
      """SELECT o_orderpriority,
        |       ARG_MAX(o_totalprice, o_orderkey) AS price_at_max_key,
        |       ARG_MIN(o_totalprice, o_orderkey) AS price_at_min_key,
        |       MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** List aggregation, canonicalized to a string so the result is
    * engine-comparable: each customer's sorted order ids.
    */
  private def qCollectList(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("o_orderkey"))), _.cast("string")))
        .as("order_ids"))
      .orderBy("o_custkey")
  row("q_collect_list", qCollectList)(
      """SELECT o_custkey,
        |       array_to_string(list_transform(list_sort(list(o_orderkey)),
        |                                      x -> CAST(x AS VARCHAR)), ',')
        |         AS order_ids
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)

  /** Second-moment statistics: correlation / covariance / stddev (rounded —
    * float summation order differs across engines).
    */
  private def qStatsCorr(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"))
      .orderBy("l_returnflag")
  row("q_stats_corr", qStatsCorr)(
      """SELECT l_returnflag,
        |       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qp,
        |       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covar_qp,
        |       ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Date/time arithmetic surface (dates rendered as strings — identical
    * text in every engine beats praying over date encodings).
    */
  private def qDateOps(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate").cast("date"), "yyyy-MM-dd").as("o_date"),
        date_format(trunc(col("o_orderdate").cast("date"), "month"), "yyyy-MM-dd")
          .as("month_start"),
        date_format(last_day(col("o_orderdate").cast("date")), "yyyy-MM-dd")
          .as("month_end"),
        date_format(add_months(col("o_orderdate").cast("date"), 3), "yyyy-MM-dd")
          .as("plus3m"),
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
          .cast("long").as("days_since"),
        dayofweek(col("o_orderdate").cast("date")).cast("long").as("dow"),
        quarter(col("o_orderdate").cast("date")).cast("long").as("qtr"))
      .orderBy("o_orderkey")
  row("q_date_ops", qDateOps)(
      """SELECT o_orderkey,
        |       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
        |       strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d')
        |         AS month_start,
        |       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |       strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d')
        |         AS plus3m,
        |       CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |            AS BIGINT) AS days_since,
        |       CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
        |       CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr
        |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** String-function surface over the customer dimension. */
  private def qStringOps(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_u"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"),
        reverse(col("c_name")).as("name_rev"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_num"),
        replace(col("c_name"), lit("Customer"), lit("C")).as("name_short"),
        concat_ws("|", col("c_mktsegment"), col("c_custkey").cast("string"))
          .as("seg_key"))
      .orderBy("c_custkey")
  row("q_string_ops", qStringOps)(
      """SELECT c_custkey,
        |       upper(c_mktsegment) AS seg_u,
        |       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
        |       reverse(c_name) AS name_rev,
        |       regexp_extract(c_name, '([0-9]+)', 1) AS name_num,
        |       replace(c_name, 'Customer', 'C') AS name_short,
        |       concat_ws('|', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key
        |FROM customer ORDER BY c_custkey""".stripMargin)

  /** Fact-to-dimension join on part (TPC-H Q14 flavor): revenue by brand,
    * dimension broadcast.
    */
  private def qPartJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }
  row("q_part_join", qPartJoin)(
      """SELECT p.p_brand,
        |       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin)

  /** Conditional/null-handling scalar surface. */
  private def qConditional(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_x"),
        greatest(col("o_totalprice"), lit(50000.0)).as("floor_price"),
        least(col("o_totalprice"), lit(250000.0)).as("cap_price"),
        when(col("o_totalprice").between(50000.0, 250000.0), lit("mid"))
          .when(col("o_totalprice") < 50000.0, lit("low"))
          .otherwise(lit("high")).as("band"))
      .orderBy("o_orderkey")
  row("q_conditional", qConditional)(
      """SELECT o_orderkey,
        |       COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_x,
        |       GREATEST(o_totalprice, 50000.0) AS floor_price,
        |       LEAST(o_totalprice, 250000.0) AS cap_price,
        |       CASE WHEN o_totalprice BETWEEN 50000.0 AND 250000.0 THEN 'mid'
        |            WHEN o_totalprice < 50000.0 THEN 'low'
        |            ELSE 'high' END AS band
        |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** CDC-style merge/upsert expressed relationally: a deterministic
    * "updates" slice (every 7th order, repriced) full-outer-merged into the
    * base — updated rows take the new values, inserts survive, untouched
    * rows pass through. The engine-level building block behind MERGE INTO.
    */
  private def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    val updates = Tables.orders(s, d)
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey").as("k"),
        // +1000 not ×1.1: a multiply can land exactly on a half-cent
        // boundary where Spark (HALF_UP on shortest repr) and DuckDB
        // round differently; adding an exact constant cannot
        round(col("o_totalprice") + 1000.0, 2).as("new_price"))
    base.join(updates, Seq("k"), "full_outer")
      .select(
        col("k"),
        round(coalesce(col("new_price"), col("price")), 2).as("price"),
        when(col("new_price").isNotNull, lit("updated"))
          .otherwise(lit("unchanged")).as("op"))
      .orderBy("k")
  }
  row("q_merge_upsert", qMergeUpsert)(
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
        |u AS (SELECT o_orderkey AS k, ROUND(o_totalprice + 1000.0, 2) AS new_price
        |      FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT COALESCE(b.k, u.k) AS k,
        |       ROUND(COALESCE(u.new_price, b.price), 2) AS price,
        |       CASE WHEN u.new_price IS NOT NULL THEN 'updated'
        |            ELSE 'unchanged' END AS op
        |FROM base b FULL OUTER JOIN u ON b.k = u.k
        |ORDER BY k""".stripMargin)

  /** Per-dimension standardization (z-scores) of the embedding column —
    * classic feature scaling, kept in exploded (vec_id, dim, z) form: the
    * per-dim moments are a 64-row aggregate joined back to the elements.
    */
  private def qStandardize(s: SparkSession, d: String): DataFrame = {
    val el = Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(toDoubleArray(col("embedding"))).as(Seq("dim", "x")))
    val stats = el.groupBy(col("dim"))
      .agg(avg(col("x")).as("mu"), stddev_samp(col("x")).as("sd"))
    el.join(broadcast(stats), Seq("dim"))
      .select(
        col("vec_id"),
        col("dim").cast("long").as("dim"),
        // + 0.0 canonicalizes IEEE -0.0 (a tiny negative rounded to
        // zero keeps its sign bit and breaks byte-level hash compares)
        (round((col("x") - col("mu")) / col("sd"), 4) + lit(0.0)).as("z"))
      .filter(col("vec_id") < 100)
      .orderBy("vec_id", "dim")
  }
  row("q_standardize", qStandardize)(
      """WITH e AS (SELECT vec_id,
        |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |el AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS i, v FROM e),
        |x AS (SELECT vec_id, i - 1 AS dim, v[i] AS x FROM el),
        |st AS (SELECT dim, AVG(x) AS mu, STDDEV_SAMP(x) AS sd FROM x GROUP BY dim)
        |SELECT x.vec_id, CAST(x.dim AS BIGINT) AS dim,
        |       ROUND((x.x - st.mu) / st.sd, 4) + 0.0 AS z
        |FROM x JOIN st USING (dim)
        |WHERE x.vec_id < 100
        |ORDER BY vec_id, dim""".stripMargin)

  /** Boolean aggregates: bool_and / bool_or / count_if per group. */
  private def qBoolAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        bool_and(col("l_quantity") > 0.0).as("all_positive"),
        bool_or(col("l_discount") > 0.09).as("any_deep_discount"),
        count_if(col("l_tax") > 0.04).as("n_high_tax"))
      .orderBy("l_returnflag")
  row("q_bool_agg", qBoolAgg)(
      """SELECT l_returnflag,
        |       BOOL_AND(l_quantity > 0.0) AS all_positive,
        |       BOOL_OR(l_discount > 0.09) AS any_deep_discount,
        |       CAST(COUNT(*) FILTER (WHERE l_tax > 0.04) AS BIGINT) AS n_high_tax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Unpivot/melt: wide per-flag aggregates to (flag, metric, value) rows. */
  private def qUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_base")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  row("q_unpivot", qUnpivot)(
      """WITH w AS (
        |  SELECT l_returnflag,
        |         CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |         ROUND(SUM(l_extendedprice), 2) AS sum_base
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
        |UNION ALL
        |SELECT l_returnflag, 'sum_base' AS metric, sum_base AS value FROM w
        |ORDER BY l_returnflag, metric""".stripMargin)

  /** Map-function battery — MapType as a first-class column: per return
    * flag, the linestatus→count map is BUILT in an aggregate
    * (`map_from_entries` over a `sort_array`ed entry list — maps are
    * unordered, so deterministic construction sorts the entries first),
    * then read back through the higher-order map surface: `size`,
    * `try_element_at` (typed point lookup, NULL on miss — the ANSI-safe
    * form: plain `element_at` THROWS on a missing key under Spark 4's
    * default ANSI mode, so a corpus where some flag group lacks one
    * linestatus would kill the row instead of reading NULL), `map_filter` (the
    * lambda prunes small statuses), and a `map_values`+`aggregate` fold
    * re-summing the counts. The collect_list rides a BOUNDED domain (the
    * per-flag status alphabet, ≤ a handful of entries) — the same
    * compact-domain contract [[qEwma]] documents, never corpus-sized
    * rows. Everything is oracled as scalars: the map round-trips back to
    * the conditional counts DuckDB computes relationally.
    */
  private def qMapOps(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("l_returnflag"))
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("l_linestatus"), col("n")))))
        .as("m"))
      .select(
        col("l_returnflag"),
        size(col("m")).as("n_statuses"),
        try_element_at(col("m"), lit("O")).as("n_open"),
        try_element_at(col("m"), lit("F")).as("n_final"),
        size(map_filter(col("m"), (_, v) => v >= lit(1000L)))
          .as("n_big_statuses"),
        aggregate(map_values(col("m")), lit(0L), (acc, v) => acc + v)
          .as("n_total"))
      .orderBy("l_returnflag")
  // q_map_ops: the map round-trips back to relational conditional
  // counts; element_at misses are NULL (CASE with no ELSE)
  row("q_map_ops", qMapOps)(
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_linestatus) AS INTEGER) AS n_statuses,
        |       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT)
        |         AS n_open,
        |       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT)
        |         AS n_final,
        |       CAST(COUNT(DISTINCT CASE WHEN cnt >= 1000 THEN l_linestatus END)
        |            AS INTEGER) AS n_big_statuses,
        |       CAST(COUNT(*) AS BIGINT) AS n_total
        |FROM (SELECT l_returnflag, l_linestatus,
        |             COUNT(*) OVER (PARTITION BY l_returnflag, l_linestatus)
        |               AS cnt
        |      FROM lineitem) t
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Array-function battery over the token arrays (canonicalized to
    * scalars/strings so results are engine-comparable).
    */
  private def qArrayOps(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    Tables.documents(s, d)
      .select(
        col("doc_id").as("id"),
        array_join(slice(sort_array(toks), 1, 3), ",").as("first3"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        array_contains(toks, "the").cast("int").cast("long").as("has_the"),
        array_position(toks, "the").as("pos_the"))
      .orderBy("id")
  }
  row("q_array_ops", qArrayOps)(
      """WITH t AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT id,
        |       array_to_string(list_sort(toks)[1:3], ',') AS first3,
        |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |       CAST(CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END AS BIGINT)
        |         AS has_the,
        |       CAST(COALESCE(list_position(toks, 'the'), 0) AS BIGINT) AS pos_the
        |FROM t ORDER BY id""".stripMargin)

  /** Time-series resample: hourly buckets per user over each user's active
    * span, zero-filled where no events landed (sequence + explode + left
    * join — the standard gap-fill shape).
    */
  private def qResampleFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id") < 50)
    val buckets = ev.groupBy(col("user_id"))
      .agg(
        date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("bucket"))
    val counts = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"))
    buckets.join(counts, Seq("user_id", "bucket"), "left_outer")
      .select(
        col("user_id"),
        unix_timestamp(col("bucket")).as("bucket_ts"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("user_id", "bucket_ts")
  }
  row("q_resample_fill", qResampleFill)(
      """WITH ev AS (SELECT * FROM events WHERE user_id < 50),
        |span AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
        |         date_trunc('hour', max(ts)) AS h1
        |  FROM ev GROUP BY user_id),
        |buckets AS (
        |  SELECT user_id,
        |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket
        |  FROM span),
        |counts AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1, 2)
        |SELECT b.user_id,
        |       CAST(epoch(b.bucket) AS BIGINT) AS bucket_ts,
        |       COALESCE(c.n, 0) AS n_events
        |FROM buckets b LEFT JOIN counts c
        |  ON b.user_id = c.user_id AND b.bucket = c.bucket
        |ORDER BY b.user_id, bucket_ts""".stripMargin)

  private def qMultimodal(s: SparkSession, d: String): DataFrame = {
    val feats = Multimodal.featurize(Tables.documents(s, d), "doc_id", "text", "text/plain")
    Multimodal.sampleFrames(Multimodal.resizeMeta(feats, 256, 256), 4)
      .select(
        col("id"), col("media_type"), col("byte_len"), col("width"), col("height"),
        col("n_frames"), col("resized_width"), col("resized_height"),
        size(col("frame_idx")).as("n_sampled"))
      .orderBy("id")
  }
  row("q_multimodal", qMultimodal)(
      """WITH f AS (
        |  SELECT doc_id AS id,
        |         'text/plain' AS media_type,
        |         CAST(strlen(text) AS BIGINT) AS byte_len,
        |         list_reduce(
        |           list_prepend(CAST(1125899906842597 AS HUGEINT),
        |             list_transform(string_split(text, ''),
        |                            c -> CAST(ascii(c) AS HUGEINT))),
        |           (a, b) -> (a * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT id, media_type, byte_len,
        |         CAST(16 + u % 1024 AS INTEGER) AS width,
        |         CAST(16 + (u // 1024) % 1024 AS INTEGER) AS height,
        |         CAST(1 + (u // 1048576) % 32 AS INTEGER) AS n_frames
        |  FROM f),
        |r AS (
        |  SELECT *, LEAST(1.0, 256.0 / width, 256.0 / height) AS scale FROM m)
        |SELECT id, media_type, byte_len, width, height, n_frames,
        |       CAST(FLOOR(width * scale) AS INTEGER) AS resized_width,
        |       CAST(FLOOR(height * scale) AS INTEGER) AS resized_height,
        |       CAST(LEAST(n_frames, 4) AS INTEGER) AS n_sampled
        |FROM r ORDER BY id""".stripMargin)

  /** REAL codec-free media-header audit: serialize a valid PNG
    * signature+IHDR prefix per document (dims derived from doc_id), then
    * parse width/height/signature BACK from the raw bytes with
    * [[Multimodal.pngWidth]]/[[Multimodal.pngHeight]] — fixed-offset
    * big-endian byte slicing as codegen'd column expressions, no image
    * library. This is the header-level pass a 100 TB multimodal ingest
    * runs BEFORE paying for decode (dimension filters, corrupt-signature
    * quarantine): stateless per-row expressions, no shuffle. The oracle
    * computes the expected dims ARITHMETICALLY — only a byte-correct
    * serializer + parser round-trip can match it.
    */
  private def qMediaHeaders(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d).select(
      col("doc_id"),
      Multimodal.pngHeader(
        lit(1L) + pmod(col("doc_id"), lit(640L)),
        lit(1L) + pmod(col("doc_id") * 7L, lit(480L))).as("media"))
    media.select(
        col("doc_id"),
        Multimodal.pngSigOk(col("media")).as("sig_ok"),
        Multimodal.pngWidth(col("media")).as("width"),
        Multimodal.pngHeight(col("media")).as("height"),
        length(col("media")).cast("long").as("n_bytes"))
      .orderBy("doc_id")
  }
  // q_media_headers: expected dims computed arithmetically — only a
  // byte-correct PNG serialize+parse round trip matches
  row("q_media_headers", qMediaHeaders)(
      """SELECT doc_id, TRUE AS sig_ok,
        |       1 + doc_id % 640 AS width,
        |       1 + (doc_id * 7) % 480 AS height,
        |       CAST(29 AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin)

  /** `binaryFile` SOURCE — the multimodal INGESTION path the
    * [[qMediaHeaders]]/[[qMultimodal]] rows assume upstream of them: a
    * directory of opaque media files becomes one row per file (path +
    * length metadata + the raw bytes as a `binary` column), which is how
    * an image/audio corpus enters Spark at 100 TB (one file = one row;
    * parallelism = files-per-task via `maxPartitionBytes`;
    * `pathGlobFilter`/`recursiveFileLookup` are the production intake
    * knobs). The staged fixture is 16 deterministic PNG-header blobs
    * derived by the SAME codegen'd serializer the parse row uses —
    * written once per corpus dir by a driver loop over the collected
    * 16-row, 29-bytes-each result (KB-scale by construction, the
    * IvfIndex collect-contract); the read side parses width/height back
    * out of the `content` bytes with the native byte-slice expressions
    * (no UDF) and recovers the shard id from the file PATH — the
    * metadata-join every file-addressed corpus does. The oracle
    * recomputes the expected table purely arithmetically (the blob
    * dimensions are formulas of the shard id), so the round-trip
    * through real files on disk is value-checked end to end.
    */
  private def qBinarySource(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_bin/${dirTag(d)}/shards"
    // guard on ALL 16 shards, not a sentinel: a crash mid-staging must
    // make the next run re-stage, not serve a partial corpus forever
    def allShards = (0 until 16).forall(i =>
      new java.io.File(dir, s"shard_$i.png").exists())
    stagedOnceGuarded(dir)(allShards) {
      val blobs = s.range(16).select(
        col("id"),
        Multimodal.pngHeader(
          lit(1L) + col("id") * 40L,
          lit(1L) + col("id") * 30L).as("media"))
        .collect() // 16 rows × 29 bytes — driver-side file write is the point
      // write into a sibling temp dir, then rename into place: readers
      // never observe a half-written corpus, and a crash leaves only the
      // temp dir (which the next stage attempt clears)
      val tmp = new java.io.File(s"$dir.tmp")
      graft.engine.Fs.deleteRecursively(tmp)
      tmp.mkdirs()
      blobs.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp.getPath, f"shard_${r.getLong(0)}%d.png"),
          r.getAs[Array[Byte]](1))
      }
      graft.engine.Fs.deleteRecursively(new java.io.File(dir))
      if (!tmp.renameTo(new java.io.File(dir)))
        throw new IllegalStateException(s"rename $tmp -> $dir failed")
    }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(dir)
      .select(
        regexp_extract(col("path"), "shard_(\\d+)\\.png$", 1)
          .cast("long").as("shard"),
        Multimodal.pngSigOk(col("content")).as("sig_ok"),
        Multimodal.pngWidth(col("content")).as("width"),
        Multimodal.pngHeight(col("content")).as("height"),
        col("length").as("n_bytes"))
      .orderBy("shard")
  }
  // q_binary_source: the staged blobs' dimensions are pure formulas of
  // the shard id and the IHDR-header blob is a fixed 29 bytes, so the
  // oracle recomputes the expected table arithmetically — the Spark
  // side must recover the identical values from REAL file bytes
  row("q_binary_source", qBinarySource)(
      """SELECT CAST(range AS BIGINT) AS shard,
        |       TRUE AS sig_ok,
        |       CAST(1 + 40 * range AS BIGINT) AS width,
        |       CAST(1 + 30 * range AS BIGINT) AS height,
        |       CAST(29 AS BIGINT) AS n_bytes
        |FROM range(16) ORDER BY shard""".stripMargin)

  /** Misra-Gries heavy hitters (the reference's `aggregator_fn_t` seam,
    * `dpu/shared/kernels/aggr.c:16`, as a mergeable sketch): one pass, k
    * counters per partition, merged map-side — no shuffle of raw items.
    *
    * The catalog row checks the sketch's GUARANTEE set: every item with
    * true frequency > n/(k+1) must appear, and Misra-Gries estimates are
    * under-counts, so `est > T` implies `true > T`. The item column is
    * derived with a designed gap (h0 ≈ 50%, h1 ≈ 25%, each tail item
    * ≈ 0.05%) so that with k = 19 (error ≤ n/20) the set
    * `{item : est·10 > n}` provably equals the exact-frequency set
    * `{item : freq·10 > n}` DuckDB computes — the sketch is oracle-checked
    * without requiring exact counts from an approximate operator.
    */
  private def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val hh = udaf(new TypedAggregates.HeavyHitters(19))
    val items = Tables.orders(s, d).select(
      when(col("o_orderkey") % 2 === 0, lit("h0"))
        .when(col("o_orderkey") % 4 === 1, lit("h1"))
        .otherwise(concat(lit("tail_"), (col("o_orderkey") % 499).cast("string")))
        .as("item"))
    items
      .agg(hh(col("item")).as("sketch"), count(lit(1)).as("n"))
      .select(explode(col("sketch")).as(Seq("item", "est")), col("n"))
      .filter(col("est") * 10 > col("n"))
      .select("item")
      .orderBy("item")
  }
  // q_heavy_hitters: the sketch's guarantee set equals the exact-frequency
  // set because the item distribution has a designed gap around the
  // threshold (see qHeavyHitters doc) — DuckDB computes exact frequencies.
  row("q_heavy_hitters", qHeavyHitters)(
      """WITH src AS (
        |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'h0'
        |              WHEN o_orderkey % 4 = 1 THEN 'h1'
        |              ELSE 'tail_' || CAST(o_orderkey % 499 AS VARCHAR) END AS item
        |  FROM orders),
        |c AS (SELECT item, COUNT(*) AS cnt FROM src GROUP BY item),
        |n AS (SELECT COUNT(*) AS n FROM src)
        |SELECT item FROM c, n WHERE cnt * 10 > n ORDER BY item""".stripMargin)

  /** The date-partitioned events table (write-once staged) — the layout
    * under [[qPrunedScan]] (static pruning) and [[qDppJoin]] (dynamic
    * pruning).
    */
  private def eventsByDate(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val table = s"graft_ev_bydate_$tag"
    val path = s"/tmp/graft_partitioned/$tag/events"
    // cross-JVM write-once, same discipline as bucketedTable/annIndex: a
    // fresh process whose path is fully written ATTACHES it instead of
    // rewriting (which would also race any concurrent reader)
    stagedOnceGuarded(path)(s.catalog.tableExists(table)) {
      if (new java.io.File(path, "_SUCCESS").exists()) {
        s.sql(
          s"""CREATE TABLE IF NOT EXISTS $table
             |(event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
             | event_type STRING, value DOUBLE, props STRING, event_date DATE)
             |USING parquet PARTITIONED BY (event_date)
             |LOCATION '$path'""".stripMargin)
        s.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
      } else {
        Tables.events(s, d)
          .withColumn("event_date", to_date(col("ts")))
          .write.partitionBy("event_date")
          .option("path", path)
          .mode("overwrite").saveAsTable(table)
      }
    }
    s.table(table)
  }

  /** Partition-pruned scan: events are written ONCE as a date-partitioned
    * table — the write-side layout that lets a 100 TB time-range query read
    * only the partitions it touches (directory-level pruning, before any
    * row group is opened) — then one day is read back through a partition
    * filter. `PlanAuditSpec` asserts the scan's `PartitionFilters` is
    * non-empty, the plan-shape property this query exists to pin (the
    * bucketed-join counterpart of `BucketingSpec`'s exchange-free check).
    */
  private def qPrunedScan(s: SparkSession, d: String): DataFrame =
    eventsByDate(s, d)
      .filter(col("event_date") === lit("2024-01-15").cast("date"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  row("q_pruned_scan", qPrunedScan)(
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |ORDER BY event_id""".stripMargin)

  /** The campaign-days dim for [[qDppJoin]]/[[qBloomSemijoin]] — staged as
    * a real parquet source so its selective filter survives as a live
    * Filter node (a local relation constant-folds it away, and without a
    * selective dim-side predicate Catalyst correctly skips DPP).
    */
  private def dppDim(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_dppdim/${dirTag(d)}/campaign_days"
    stagedOnce(dir) {
      s.createDataFrame(Seq(
          ("2024-01-05", "promo"), ("2024-01-15", "promo"),
          ("2024-01-25", "control"), ("2024-02-14", "unused")))
        .toDF("dim_day", "campaign")
        .select(col("dim_day").cast("date").as("dim_date"), col("campaign"))
        .write.mode("overwrite").parquet(dir)
    }
    Tables.parquet(s, dir)
  }

  // q_dpp_join and q_bloom_semijoin return the same result set
  private val campaignDaysOracle: String =
      """WITH dim(dim_day, campaign) AS (VALUES
        |  ('2024-01-05', 'promo'), ('2024-01-15', 'promo'),
        |  ('2024-01-25', 'control'))
        |SELECT strftime(ts, '%Y-%m-%d') AS day, campaign,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(SUM(event_id) AS BIGINT) AS sum_id
        |FROM events JOIN dim ON strftime(ts, '%Y-%m-%d') = dim_day
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** DYNAMIC partition pruning — the runtime half of the pruning story:
    * [[qPrunedScan]] pins the static case (a literal predicate prunes at
    * plan time), but the common 100 TB shape is a fact table joined to a
    * FILTERED dimension whose surviving keys are only known at run time.
    * Catalyst plants a DynamicPruningSubquery on the fact's partition
    * column: the broadcast dim materializes first, and only the
    * partitions its keys name are ever listed/read — 3 of ~30 days here,
    * the difference between scanning 100 TB and 10 TB in production.
    * `PlanAuditSpec` pins `dynamicpruning` in the fact scan's partition
    * filters. Aggregates stay in exact integer space.
    */
  private def qDppJoin(s: SparkSession, d: String): DataFrame = {
    eventsByDate(s, d)
      .join(broadcast(dppDim(s, d).filter(col("campaign") =!= "unused")),
        col("event_date") === col("dim_date"))
      .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("day"),
        col("campaign"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("sum_id"))
      .orderBy("day")
  }
  row("q_dpp_join", qDppJoin)(campaignDaysOracle)

  /** Bloom SEMI-JOIN PUSHDOWN measured against DPP (r13 verdict #7) —
    * the same selective dim ⋈ partitioned-fact query as [[qDppJoin]],
    * answered WITHOUT dynamic partition pruning: the dim's join keys are
    * collapsed into a KB-scale bloom filter at query build (one
    * metadata-sized dim job), and the probe on the fact's partition
    * column is attached as a STATIC scan predicate. Because the probe
    * references ONLY the partition column, Catalyst classifies it as a
    * PartitionFilter — directory-level pruning at file-listing time, the
    * same I/O cut DPP achieves with its runtime subquery, minus the
    * subquery stage (PlanAuditSpec pins `might_contain` inside
    * PartitionFilters and the absence of `dynamicpruning`). False
    * positives pass the bloom but are removed by the exact join, so the
    * answer is identical to [[qDppJoin]]'s — one oracle, two pruning
    * strategies. Trade-off this row documents: DPP is automatic and
    * exact but pays a subquery + broadcast exchange at runtime; the
    * static bloom costs one dim pass up front, admits ~fpp of extra
    * partitions, and — the 100 TB reason it exists — also works when the
    * planner DECLINES DPP (non-broadcastable dims, pruning ratio below
    * `fallbackFilterRatio`, or a filter the subquery rewrite can't see).
    * DPP is conf-disabled inside the build window (q_cbo_reorder
    * discipline: plan forced + result cached inside), so the measured
    * plan carries exactly one pruning mechanism.
    */
  private def qBloomSemijoin(s: SparkSession, d: String): DataFrame = {
    val active = dppDim(s, d).filter(col("campaign") =!= "unused")
    // bloom over the dim's join keys as epoch-days (bloomFilter wants
    // long/string); the fact-side probe applies the SAME derivation
    val epochDay = (c: Column) =>
      datediff(c, lit("1970-01-01").cast("date")).cast("long")
    val bytes = GraftFunctions.buildBloom(
      active.select(epochDay(col("dim_date")).as("k")), "k")
    withConf(s, "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
      val df = eventsByDate(s, d)
        .filter(NativeExpressions.bloom_might_contain(
          epochDay(col("event_date")), bytes))
        .join(broadcast(active), col("event_date") === col("dim_date"))
        .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("day"),
          col("campaign"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("event_id")).as("sum_id"))
        .orderBy("day")
      df.queryExecution.executedPlan // plan inside the no-DPP window
      df.cache()
      df.count()
      df
    }
  }
  // q_bloom_semijoin: answer-identical to q_dpp_join — the bloom only
  // changes which partitions are LISTED, never the result
  row("q_bloom_semijoin", qBloomSemijoin)(campaignDaysOracle)

  /** Small-file compaction — the lakehouse maintenance op a 100 TB table
    * needs continuously: streaming/incremental writers leave thousands of
    * KB-scale files whose per-file open/footer cost dominates scans; the
    * compactor rewrites them into few large range-clustered files (sorted
    * within each, so min/max stats stay tight on the cluster key). Staged
    * once per directory (dirTag discipline): a 64-file fragmented copy,
    * then the 4-file compaction. The oracle is CONTENT equality with the
    * source — compaction must change layout, never answers; the file-count
    * reduction itself is pinned by `PlanAuditSpec`.
    */
  private def qCompaction(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val small = s"/tmp/graft_compact/$tag/small"
    val compacted = s"/tmp/graft_compact/$tag/compacted"
    stagedOnce(compacted) {
      if (!new java.io.File(small, "_SUCCESS").exists())
        Tables.events(s, d).select("event_id", "event_type", "value")
          .repartition(64) // the fragmented state a drip-writer leaves
          .write.mode("overwrite").parquet(small)
      Tables.parquet(s, small)
        .repartitionByRange(4, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(compacted)
    }
    Tables.parquet(s, compacted).orderBy("event_id")
  }
  // q_compaction: layout maintenance must never change answers — the
  // oracle is the source content itself
  row("q_compaction", qCompaction)(
      """SELECT event_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin)

  /** Multi-dimensional clustered scan: events are written ONCE z-ordered
    * on (user_id, value) ([[graft.sources.Layout]]), then a range
    * predicate on `value` — NOT the leading dimension of any
    * lexicographic sort — reads only the files whose min/max stats admit
    * the range. The plan-audit spec measures the decoded-row reduction vs
    * a user_id-sorted layout of the same data; the oracle checks the
    * filtered result itself against DuckDB on the original table (layout
    * must never change ANSWERS, only bytes touched).
    */
  private def qZorderScan(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val path = s"/tmp/graft_zorder/$tag/events"
    stagedOnce(path) {
      graft.sources.Layout.writeZOrdered(
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
        Seq("user_id", "value"), path)
    }
    Tables.parquet(s, path)
      .filter(col("value") >= 100.0 && col("value") < 120.0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }
  // q_zorder_scan: layout changes bytes touched, never answers — the
  // oracle is the same filter on the original table
  row("q_zorder_scan", qZorderScan)(
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE value >= 100.0 AND value < 120.0
        |ORDER BY event_id""".stripMargin)

  /** JSON-lines source/sink roundtrip: events written once as JSON (the
    * interchange format ingest pipelines actually receive), read back with
    * an explicit schema — schema-on-read, no inference pass over the data —
    * and oracle-verified against the parquet original. Doubles survive via
    * shortest-representation roundtrip. The timestamp column deliberately
    * stays out: Spark's default JSON timestamp format is
    * millisecond-precision, so a µs-precision event stream silently loses
    * fidelity through JSON — a real interchange pitfall this query's
    * column choice documents rather than papers over.
    */
  private def qJsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_json/${dirTag(d)}/events"
    // guard on _SUCCESS, not the directory: a crashed mid-write leaves a
    // partial directory that a bare exists-check would serve forever
    stagedOnce(dir) {
      Tables.events(s, d).select("event_id", "event_type", "value")
        .write.mode("overwrite").json(dir)
    }
    s.read.schema("event_id BIGINT, event_type STRING, value DOUBLE").json(dir)
      .orderBy("event_id")
  }
  // q_json_roundtrip: the roundtrip is the identity on these columns, so
  // the oracle is simply the original table
  row("q_json_roundtrip", qJsonRoundtrip)(
      "SELECT event_id, event_type, value FROM events ORDER BY event_id")

  /** Gini coefficient of per-document size — the corpus-balance audit (is
    * the token budget spread across documents or concentrated in a few
    * giants?) that sits next to the drift monitors in a pipeline's data
    * health report. Uses the rank formula G = 2·Σ i·xᵢ / (n·Σ xᵢ) −
    * (n+1)/n over ascending sizes, with the global rank i coming from
    * [[graft.operators.PositionalTake.withGlobalIndex]] — the
    * range-partition + per-partition-offset machinery, NOT a
    * single-partition row_number window, so the sort stays distributed at
    * any corpus size. Every sum is an exact integer; the two divisions
    * happen once at the end, identically in both engines.
    */
  private def qGini(s: SparkSession, d: String): DataFrame =
    PositionalTake.withGlobalIndex(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        Seq("n_chars", "doc_id"), "idx")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum((col("idx") + 1) * col("n_chars")).as("weighted"))
      .select(
        col("n_docs"), col("total_chars"),
        round(
          lit(2) * col("weighted") / (col("n_docs") * col("total_chars")) -
            (col("n_docs") + 1) / col("n_docs"),
          6).as("gini"))
  // q_gini: rank formula over ascending sizes; integer sums, two
  // divisions at the end with identical operand structure
  row("q_gini", qGini)(
      """WITH s AS (
        |  SELECT n_chars,
        |         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS i
        |  FROM documents),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |         CAST(SUM(i * n_chars) AS BIGINT) AS weighted
        |  FROM s)
        |SELECT n_docs, total_chars,
        |       ROUND(2 * weighted / (n_docs * total_chars)
        |             - (n_docs + 1) / n_docs, 6) AS gini
        |FROM a""".stripMargin)

  /** Two-sample Kolmogorov–Smirnov statistic between the document-length
    * distributions of two source cohorts — the distribution-drift monitor
    * a production corpus pipeline runs between snapshots (did the new
    * crawl's length profile shift?). Scalable decomposition: per-VALUE
    * counts aggregate first (map-side combine onto the compact distinct
    * domain — for a continuous metric you'd pre-bucket), then the ECDF
    * difference is a cumulative window over that compact domain, and the
    * cohort totals come from full-frame window sums — no 1-row cross-join,
    * no driver-side state. The final max-abs-difference is one scalar
    * aggregate.
    */
  private def qKsDrift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = when(expr("CAST(substring(source, 4) AS INT)") < 10, lit("a"))
      .otherwise(lit("b"))
    val cnt = Tables.documents(s, d)
      .select(grp.as("grp"), col("n_chars"))
      .groupBy("n_chars")
      .agg(
        sum(when(col("grp") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("grp") === "b", 1L).otherwise(0L)).as("cb"))
    val cum = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cnt
      .select(
        (sum(col("ca")).over(cum) / sum(col("ca")).over(full)).as("fa"),
        (sum(col("cb")).over(cum) / sum(col("cb")).over(full)).as("fb"),
        sum(col("ca")).over(full).as("n_a"),
        sum(col("cb")).over(full).as("n_b"))
      .agg(
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"),
        round(max(abs(col("fa") - col("fb"))), 6).as("ks_stat"))
  }
  // q_ks_drift: ECDF difference over the compact distinct-length
  // domain; proportions from totals, max abs difference — identical
  // arithmetic shape in both engines
  row("q_ks_drift", qKsDrift)(
      """WITH cnt AS (
        |  SELECT n_chars,
        |         CAST(SUM(CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(SUM(CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |                       THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM documents GROUP BY n_chars),
        |ecdf AS (
        |  SELECT
        |    SUM(ca) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) /
        |      (SELECT CAST(SUM(ca) AS DOUBLE) FROM cnt) AS fa,
        |    SUM(cb) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) /
        |      (SELECT CAST(SUM(cb) AS DOUBLE) FROM cnt) AS fb
        |  FROM cnt)
        |SELECT (SELECT CAST(SUM(ca) AS BIGINT) FROM cnt) AS n_a,
        |       (SELECT CAST(SUM(cb) AS BIGINT) FROM cnt) AS n_b,
        |       ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat
        |FROM ecdf""".stripMargin)

  /** Population Stability Index between two event cohorts' value
    * distributions (purchases vs views, equi-width buckets) — the bucketed
    * drift score monitoring pipelines alert on (rule of thumb: >0.25 =
    * population shifted). Σ (pa−pb)·ln(pa/pb) over buckets observed in
    * BOTH cohorts (the zero-bucket epsilon fudge is non-portable across
    * engines, so absence-drift is reported by the bucket counts instead).
    * Same scalable shape as [[qKsDrift]]: bucket counts aggregate
    * map-side, proportions come from full-frame window sums over the
    * compact bucket domain, one scalar aggregate at the end.
    */
  private def qPsiDrift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"), floor(col("value") / 20).cast("long").as("bucket"))
    val cnt = e.groupBy("bucket")
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cp"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cv"))
    val full = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cnt
      .select(
        col("bucket"), col("cp"), col("cv"),
        (col("cp") / sum(col("cp")).over(full)).as("pp"),
        (col("cv") / sum(col("cv")).over(full)).as("pv"))
      .filter(col("cp") > 0 && col("cv") > 0)
      .agg(
        count(lit(1)).as("n_buckets"),
        round(sum((col("pp") - col("pv")) * log(col("pp") / col("pv"))), 6)
          .as("psi"))
  }
  // q_psi_drift: proportions over ALL buckets, then the both-positive
  // restriction, then one scalar sum — mirrored exactly
  row("q_psi_drift", qPsiDrift)(
      """WITH cnt AS (
        |  SELECT CAST(FLOOR(value / 20) AS BIGINT) AS bucket,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS cp,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS cv
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1),
        |p AS (
        |  SELECT bucket, cp, cv,
        |         cp / (SELECT CAST(SUM(cp) AS DOUBLE) FROM cnt) AS pp,
        |         cv / (SELECT CAST(SUM(cv) AS DOUBLE) FROM cnt) AS pv
        |  FROM cnt)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |       ROUND(SUM((pp - pv) * ln(pp / pv)), 6) AS psi
        |FROM p WHERE cp > 0 AND cv > 0""".stripMargin)

  // q_xml_roundtrip: entity-escaping-safe identity on these columns
  // (props is JSON — quotes/braces must survive XML write+read verbatim)
  private val eventsRoundtripOracle: String =
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |       value, props
        |FROM events ORDER BY event_id""".stripMargin

  /** CSV source/sink roundtrip — the other interchange format ingest
    * pipelines receive (exports, logs, spreadsheets). The staged write
    * includes the `props` JSON column on purpose: its embedded quotes,
    * commas, and braces force the writer through real CSV quoting and the
    * reader through real unquoting — the part of the format that actually
    * breaks naive pipelines. Read back with an explicit schema + header
    * (schema-on-read, no inference pass over the data). Doubles survive
    * via shortest-representation roundtrip; the timestamp travels as an
    * epoch-µs BIGINT column because CSV has no timestamp type — parsing
    * falls back to format strings, the same fidelity trap the JSON row's
    * docstring records for ms-precision JSON timestamps.
    */
  private def qCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_csvrt/${dirTag(d)}/events"
    stagedOnce(dir) {
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").option("header", "true").csv(dir)
    }
    s.read
      .schema("event_id BIGINT, ts_us BIGINT, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .option("header", "true").csv(dir)
      .orderBy("event_id")
  }
  // q_csv_roundtrip: quoting-safe identity on these columns (props is
  // JSON — quotes/commas/braces must survive CSV write+read verbatim)
  row("q_csv_roundtrip", qCsvRoundtrip)(eventsRoundtripOracle)

  /** Mann–Whitney U rank-sum test (returnflag R vs A on l_extendedprice)
    * with exact tie-averaged ranks computed WITHOUT a global window: cent
    * values aggregate to a (value → per-group count) table, values segment
    * into fixed-width $1,000 buckets, the within-bucket rank prefix is a
    * bucket-PARTITIONED window, and the cross-bucket carry is a window over
    * the bucket-total table whose size is bounded by the VALUE RANGE (~110
    * rows for TPC-H prices at any corpus size), never the row count — the
    * [[graft.operators.PrefixSum.exclusive]] library operator (same
    * carry-in decomposition as [[qPeakConcurrency]]). Statistics stay
    * in exact integer space doubled to clear half-ranks (2·avgrank =
    * 2·cum + t + 1), so `u2_a` = 2·U is an exact bigint far past 100 TB;
    * the AUC estimate U/(n_a·n_b) is the only double — one cast-and-divide
    * per engine, bit-identical. Reference discipline: differential oracle
    * (host/join/join_test.cc:27-38).
    */
  private def qRankTest(s: SparkSession, d: String): DataFrame = {
    val perValue = Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "A"))
      .select(
        round(col("l_extendedprice") * 100).cast("long").as("v"),
        (col("l_returnflag") === "R").as("is_a"))
      .groupBy("v")
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("nb"))
    PrefixSum.exclusive(perValue, floor(col("v") / lit(100000L)),
        Seq(col("v")), col("na") + col("nb"), "cum")
      .select(col("na"), col("nb"), col("cum"),
        (col("na") + col("nb")).as("t"))
      .agg(
        sum(col("na")).as("n_a"),
        sum(col("nb")).as("n_b"),
        sum(col("na") * (lit(2L) * col("cum") + col("t") + lit(1L))).as("r2_a"))
      .select(col("n_a"), col("n_b"),
        (col("r2_a") - col("n_a") * (col("n_a") + lit(1L))).as("u2_a"))
      .withColumn("auc_a",
        col("u2_a").cast("double") /
          (lit(2L) * col("n_a") * col("n_b")).cast("double"))
  }
  // q_rank_test: identical two-level exact rank-sum; the oracle's single
  // ORDER BY window replaces the engine's bucket+carry decomposition
  row("q_rank_test", qRankTest)(
      """WITH v AS (
        |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
        |         (l_returnflag = 'R') AS is_a
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')
        |), a AS (
        |  SELECT v,
        |         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM v GROUP BY v
        |), p AS (
        |  SELECT na, nb, na + nb AS t,
        |         CAST(COALESCE(SUM(na + nb) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum
        |  FROM a
        |), s AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
        |         CAST(SUM(nb) AS BIGINT) AS n_b,
        |         CAST(SUM(na * (2 * cum + t + 1)) AS BIGINT) AS r2_a
        |  FROM p
        |)
        |SELECT n_a, n_b, r2_a - n_a * (n_a + 1) AS u2_a,
        |       CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) /
        |         CAST(2 * n_a * n_b AS DOUBLE) AS auc_a
        |FROM s""".stripMargin)

  /** NULL-semantics battery in one aggregate pass: a nullable group key
    * (NULLIF collapses 'O' status to NULL — ANSI groups every NULL into
    * one bucket) and a nullable measure (every 7th order's price withheld)
    * exercise the aggregate null contract: COUNT(*) counts rows,
    * COUNT(col)/SUM/MIN/MAX skip NULLs. The sort pins NULLS FIRST
    * explicitly because engine DEFAULTS disagree (Spark ASC = NULLS
    * FIRST, DuckDB = NULLS LAST) — left implicit this row would
    * hash-diverge, which is exactly the portability trap it documents.
    * One map-side-combinable shuffle onto a ≤3-value key domain; o_orderkey
    * is non-negative so pmod and truncated % agree (the [[qVariant]]
    * floor-mod lesson, stated rather than assumed).
    */
  private def qNullSemantics(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        nullif(col("o_orderstatus"), lit("O")).as("st"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null))
          .otherwise(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      .groupBy("st")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("cents")).as("n_priced"),
        count(when(col("cents").isNull, 1)).as("n_null_price"),
        sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy(col("st").asc_nulls_first)
  // q_null_semantics: NULLS FIRST is explicit — DuckDB's default is
  // NULLS LAST, Spark's is NULLS FIRST
  row("q_null_semantics", qNullSemantics)(
      """WITH b AS (
        |  SELECT NULLIF(o_orderstatus, 'O') AS st,
        |         CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |              ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |         END AS cents
        |  FROM orders
        |)
        |SELECT st, COUNT(*) AS n_rows, COUNT(cents) AS n_priced,
        |       CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null_price,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |       MIN(cents) AS min_cents, MAX(cents) AS max_cents
        |FROM b GROUP BY st ORDER BY st NULLS FIRST""".stripMargin)

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) with the scale
    * discipline that makes it survivable: NULL is a legitimate join-key
    * value that hash-partitions like any other, so a ROW-level null-safe
    * join concentrates every null×null pair into one task (n_null² pair
    * blowup — the null-key analogue of [[qSaltedJoin]]'s hot key). The
    * remedy is aggregate-first: each side reduces to per-key counts
    * (map-side combine), the null-safe join runs over the compact key
    * domain, and pair counts multiply — identical answer, no blowup.
    * Spark plans EqualNullSafe as a real hash-join key (not a nested
    * loop), which the catalog-wide cartesian audit pins.
    */
  private def qNullsafeJoin(s: SparkSession, d: String): DataFrame = {
    def side(m: Int) = Tables.orders(s, d)
      .filter(pmod(col("o_orderkey"), lit(2)) === m)
      .select(
        nullif(substring(col("o_orderpriority"), 1, 1), lit("3")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val a = side(0).select(col("k"), col("n").as("n_a"))
    val b = side(1).select(col("k").as("kb"), col("n").as("n_b"))
    a.join(b, col("k") <=> col("kb"))
      .select(col("k"), col("n_a"), col("n_b"),
        (col("n_a") * col("n_b")).as("n_pairs"))
      .orderBy(col("k").asc_nulls_first)
  }
  // q_nullsafe_join: IS NOT DISTINCT FROM is ANSI's <=>
  row("q_nullsafe_join", qNullsafeJoin)(
      """WITH a AS (
        |  SELECT NULLIF(substr(o_orderpriority, 1, 1), '3') AS k,
        |         COUNT(*) AS n_a
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
        |), b AS (
        |  SELECT NULLIF(substr(o_orderpriority, 1, 1), '3') AS k,
        |         COUNT(*) AS n_b
        |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1
        |)
        |SELECT a.k AS k, a.n_a, b.n_b, a.n_a * b.n_b AS n_pairs
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k NULLS FIRST""".stripMargin)

  /** Ridge regression (price ~ quantity + discount, λ=1000) by
    * DISTRIBUTED normal equations: the corpus-sized pass is ONE scalar
    * aggregate of nine exact-integer sufficient statistics (cent-unit y,
    * whole-unit quantity, percent-unit discount keep every Σ an exact
    * bigint to ~10^17 rows); the centered 2×2 closed-form solve runs on
    * the 1-row result in double space with the SAME operation order on
    * both engines, so every IEEE op rounds identically and the
    * coefficients hash bit-for-bit unrounded. The model-fit shape a
    * feature pipeline needs at 100 TB: no driver loop, no gradient
    * iterations, one shuffle of nine numbers.
    */
  private def qRidge(s: SparkSession, d: String): DataFrame = {
    val lam = lit(1000.0)
    def d_(c: String) = col(c).cast("double")
    Tables.lineitem(s, d)
      .select(
        round(col("l_quantity")).cast("long").as("x1"),
        round(col("l_discount") * 100).cast("long").as("x2"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
      .select(col("n"),
        (d_("s11") - d_("s1") * d_("s1") / d_("n")).as("c11"),
        (d_("s12") - d_("s1") * d_("s2") / d_("n")).as("c12"),
        (d_("s22") - d_("s2") * d_("s2") / d_("n")).as("c22"),
        (d_("s1y") - d_("s1") * d_("sy") / d_("n")).as("cy1"),
        (d_("s2y") - d_("s2") * d_("sy") / d_("n")).as("cy2"),
        (d_("s1") / d_("n")).as("xb1"),
        (d_("s2") / d_("n")).as("xb2"),
        (d_("sy") / d_("n")).as("yb"))
      .withColumn("det",
        (col("c11") + lam) * (col("c22") + lam) - col("c12") * col("c12"))
      .withColumn("b1",
        ((col("c22") + lam) * col("cy1") - col("c12") * col("cy2")) /
          col("det"))
      .withColumn("b2",
        ((col("c11") + lam) * col("cy2") - col("c12") * col("cy1")) /
          col("det"))
      .withColumn("b0",
        col("yb") - col("b1") * col("xb1") - col("b2") * col("xb2"))
      .select(col("n"), col("b0"), col("b1"), col("b2"))
  }
  // q_ridge: the double-space solve mirrors the Spark expression order
  // op-for-op so every IEEE rounding decision is identical; the decimal
  // literal is CAST to DOUBLE because DuckDB parses 1000.0 as DECIMAL
  row("q_ridge", qRidge)(
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x1) AS BIGINT) AS s1,
        |         CAST(SUM(x2) AS BIGINT) AS s2,
        |         CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
        |         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
        |         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
        |         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
        |         CAST(SUM(x2 * y) AS BIGINT) AS s2y
        |  FROM (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x1,
        |               CAST(ROUND(l_discount * 100) AS BIGINT) AS x2,
        |               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        |        FROM lineitem)
        |), c AS (
        |  SELECT n,
        |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS c11,
        |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS c12,
        |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS c22,
        |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cy1,
        |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cy2,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS xb1,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS xb2,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS yb
        |  FROM m
        |), f AS (
        |  SELECT *, (c11 + CAST(1000 AS DOUBLE)) * (c22 + CAST(1000 AS DOUBLE))
        |            - c12 * c12 AS det
        |  FROM c
        |), g AS (
        |  SELECT *,
        |    ((c22 + CAST(1000 AS DOUBLE)) * cy1 - c12 * cy2) / det AS b1,
        |    ((c11 + CAST(1000 AS DOUBLE)) * cy2 - c12 * cy1) / det AS b2
        |  FROM f
        |)
        |SELECT n, yb - b1 * xb1 - b2 * xb2 AS b0, b1, b2 FROM g""".stripMargin)

  /** EXACT distinct counting via mergeable roaring-style bitmaps
    * (Spark's `bitmap_*` family) — the scale answer when HLL's ±2% error
    * (the [[qSketches]] row) is not acceptable but a full
    * `COUNT(DISTINCT)` shuffle of raw 8-byte keys is too expensive: each
    * input row reduces map-side to a bit in a fixed 4 KB bucket bitmap
    * (`bitmap_bucket_number` = id >> 15, `bitmap_bit_position` = id &
    * 32767), partial bitmaps OR-merge associatively, and the shuffle
    * carries only (type, bucket, ≤4 KB) partials — state is bounded by
    * the ID RANGE / 32768, never the row count. The final readout sums
    * exact per-bucket popcounts. At 100 TB the same plan holds: the
    * bitmap partials are also persistable as an incremental-refresh
    * sketch table (the [[qIncrementalAgg]] merge discipline), something a
    * raw COUNT(DISTINCT) can never be.
    */
  private def qBitmapDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
        .as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy("event_type")
  row("q_bitmap_distinct", qBitmapDistinct)(
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Error-SAFE arithmetic (`try_divide` / `try_add` / `try_mod`) — the
    * ANSI-mode survival kit for dirty data at scale: a single bad row in
    * a 100 TB scan must yield NULL, not kill the stage (and with it the
    * retry storm a failing 10k-task stage triggers). `safe_div`/`safe_mod`
    * NULL out the ~0.1% zero-divisor rows; `safe_add` NULLs the rare
    * bigint-overflow rows — all codegen'd, no UDF, each one exact-integer
    * op or a single division (bit-identical across engines). The error
    * rows are deliberately RARE: Spark's try_* catch a thrown JVM
    * exception per bad row, so they are the right tool for sparse dirt
    * only — a column where errors are DENSE belongs behind an explicit
    * `when()` guard instead (a first cut of this row overflowed on 99% of
    * rows and ran 10× slower than the guarded form). The oracle mirrors
    * the NULL semantics as CASE guards, pinning exactly which rows NULL
    * out rather than just "doesn't crash".
    */
  private def qTryArithmetic(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), pmod(col("user_id"), lit(997)).as("dv"),
        when(pmod(col("event_id"), lit(997)) === 0,
          lit(9223372036854775000L)).otherwise(lit(0L)).as("addend"))
      .select(
        col("event_id"),
        expr("try_divide(event_id, dv)").as("safe_div"),
        expr("try_mod(event_id, dv)").as("safe_mod"),
        expr("try_add(addend, event_id)").as("safe_add"))
      .orderBy("event_id")
  // q_try_arithmetic: NULL semantics mirrored as CASE guards (floor-mod
  // divisor on both sides; the guard also keeps DuckDB's bigint
  // overflow-throw from firing where Spark's try_add yields NULL)
  row("q_try_arithmetic", qTryArithmetic)(
      """SELECT event_id,
        |  CASE WHEN ((user_id % 997) + 997) % 997 = 0 THEN NULL
        |       ELSE CAST(event_id AS DOUBLE) /
        |            CAST(((user_id % 997) + 997) % 997 AS DOUBLE)
        |       END AS safe_div,
        |  CASE WHEN ((user_id % 997) + 997) % 997 = 0 THEN NULL
        |       ELSE event_id % (((user_id % 997) + 997) % 997) END AS safe_mod,
        |  CASE WHEN event_id % 997 = 0 AND event_id > 807 THEN NULL
        |       WHEN event_id % 997 = 0 THEN 9223372036854775000 + event_id
        |       ELSE event_id END AS safe_add
        |FROM events ORDER BY event_id""".stripMargin)

  /** Ordered LISTAGG readout (Spark 4 `listagg ... WITHIN GROUP`) — the
    * denormalized "children as one string" export BI handoffs ask for.
    * Scale shape: group state is the concatenation itself, so this is
    * safe ONLY over a bounded-fanout group (suppliers per nation —
    * fanout is suppliers/25 at every SF); an unbounded-fanout listagg is
    * the same anti-pattern as an unbounded collect_list and belongs
    * behind the [[qTopkPerKey]] rank-limit first. The WITHIN GROUP order
    * makes the string deterministic — an unordered listagg is a
    * flaky-diff generator across retries/partitionings.
    */
  private def qListagg(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        expr("listagg(s_name, ',') within group (order by s_name)")
          .as("supplier_csv"))
      .orderBy("n_name")
  row("q_listagg", qListagg)(
      """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |       string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)

  /** XML source/sink roundtrip (Spark 4 built-in XML data source) — the
    * third interchange format beside [[qCsvRoundtrip]]/[[qJsonRoundtrip]]:
    * feeds, sitemaps, and legacy enterprise exports arrive as XML. The
    * staged write keeps the `props` JSON column on purpose — its quotes,
    * braces, and ampersand-free-but-bracketed content force real XML
    * entity escaping on write and unescaping on read. Read back with an
    * explicit schema + rowTag (schema-on-read; no inference pass), the
    * timestamp travelling as epoch-µs BIGINT exactly as the CSV row does
    * (XML has no timestamp type either). Write-once staged under the
    * dirTag discipline; reads parallelize per file like any text source.
    */
  private def qXmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_xmlrt/${dirTag(d)}/events"
    stagedOnce(dir) {
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").option("rootTag", "events")
        .option("rowTag", "event").format("xml").save(dir)
    }
    s.read
      .schema("event_id BIGINT, ts_us BIGINT, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .option("rowTag", "event").format("xml").load(dir)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .orderBy("event_id")
  }
  row("q_xml_roundtrip", qXmlRoundtrip)(eventsRoundtripOracle)

  /** Grid-bucketed SPATIAL within-distance self-join — the scale pattern
    * for "all point pairs within radius r" (geo dedup, store/competitor
    * matching, sensor correlation) without the all-pairs cross join: each
    * point lands in an r-sized grid cell, ONE side replicates to its 3×3
    * neighbor cells (constant ×9 map-side expansion — no broadcast of the
    * corpus), and the join is an equi-join on cell id, so it shuffles and
    * hash-partitions like any PK–FK join. Any pair within r is guaranteed
    * to meet (cell size = r), each pair meets exactly once per orientation
    * (the home cell is unique), and `id_a < id_b` keeps one orientation.
    * Candidates are bounded by local density × 9, never n²; a dense-cell
    * hotspot is ordinary join skew (AQE skew split / salting, the
    * [[qSaltedJoin]] remedy). Coordinates derive from the portable md5
    * construction ([[qAbAssign]]) so the oracle replays them; distance
    * stays in exact integer space (squared, no sqrt).
    */
  private def qSpatialJoin(s: SparkSession, d: String): DataFrame = {
    def coord(pos: Int) = pmod(
      conv(substring(md5(col("c_custkey").cast("string")), pos, 12), 16, 10)
        .cast("long"),
      lit(10000L))
    val pts = Tables.customer(s, d)
      .filter(pmod(col("c_custkey"), lit(10)) === 0)
      .select(col("c_custkey").as("id"), coord(1).as("x"), coord(13).as("y"))
    SpatialJoin.withinDistance(pts, "id", "x", "y", 1000L)
      .orderBy("id_a", "id_b")
  }
  // q_spatial_join: the oracle verifies by direct quadratic join over
  // the sampled point set (fine at oracle scale; the engine side is the
  // grid-bucketed equi-join) — coordinates replayed via the portable
  // md5 construction, distance kept squared in exact integer space
  row("q_spatial_join", qSpatialJoin)(
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12))
        |         AS BIGINT) % 10000 AS x,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 13, 12))
        |         AS BIGINT) % 10000 AS y
        |  FROM customer WHERE c_custkey % 10 = 0)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST((a.x - b.x) * (a.x - b.x)
        |            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      <= 1000000
        |ORDER BY id_a, id_b""".stripMargin)

  /** CUPED variance-reduced experiment readout — the pre-period covariate
    * adjustment every mature A/B platform applies (ŷ_adj = ȳ − θ(x̄ −
    * x̄_all), θ = cov(x,y)/var(x)): same point estimate discipline as
    * [[qAbZtest]] but with the pre-period activity soaked out, which is
    * what makes small effects readable at fixed sample size. Shape: ONE
    * pass reduces events to the per-user (pre, post) count pair; θ and the
    * global pre-mean come from exact bigint sums (n·Σxy − ΣxΣy over
    * n·Σx² − Σx², one division — bit-identical), which are ADDITIVE and
    * so fold up from the per-arm aggregate through a compact-domain
    * window — events is scanned exactly once; per-arm means are single
    * divisions of exact sums. A 100 TB run lifts the bigint products to
    * DECIMAL(38,0) (the [[qDecimalSum]] seam) with the same plan. The
    * var(x)=0 degenerate (no pre-period signal) reads θ=0 — plain means —
    * under the ANSI divide guard.
    */
  private def qCuped(s: SparkSession, d: String): DataFrame = {
    val cut = lit("2024-01-15").cast("timestamp")
    val arm = when(
      pmod(conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long"), lit(1000000L)) < 500000L, lit("a"))
      .otherwise(lit("b"))
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("x"),
        sum(when(col("ts") < cut, 0L).otherwise(1L)).as("y"))
      .withColumn("arm", arm)
    // θ's sufficient statistics are additive, so the GLOBAL sums come
    // from the ≤2-row per-arm table through a compact-domain window
    // (PlanAuditSpec-allowlisted) instead of a second pass over the
    // per-user table — the first cut scanned events twice for them
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val theta =
      when(den === 0L, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))
    val xbar = col("sx").cast("double") / col("n").cast("double")
    val meanPost = col("ay").cast("double") / col("n_users").cast("double")
    val meanPre = col("ax").cast("double") / col("n_users").cast("double")
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("ax"), sum(col("y")).as("ay"),
        sum(col("x") * col("y")).as("axy"),
        sum(col("x") * col("x")).as("axx"))
      .withColumn("n", sum(col("n_users")).over(w))
      .withColumn("sx", sum(col("ax")).over(w))
      .withColumn("sy", sum(col("ay")).over(w))
      .withColumn("sxy", sum(col("axy")).over(w))
      .withColumn("sxx", sum(col("axx")).over(w))
      .select(col("arm"), col("n_users"),
        round(meanPost, 6).as("mean_post"),
        round(meanPre, 6).as("mean_pre"),
        round(meanPost - theta * (meanPre - xbar), 6).as("mean_adj"))
      .orderBy("arm")
  }
  // q_cuped: θ and all means replayed from the same exact bigint sums,
  // single divisions, mirrored operand trees (bit-identical doubles)
  row("q_cuped", qCuped)(
      """WITH u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS x,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END) AS y,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |                                   1, 12)) AS BIGINT)
        |              % 1000000 < 500000
        |         THEN 'a' ELSE 'b' END AS arm
        |  FROM events GROUP BY user_id),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(x) AS BIGINT) AS sx,
        |             CAST(SUM(y) AS BIGINT) AS sy,
        |             CAST(SUM(x * y) AS BIGINT) AS sxy,
        |             CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM u),
        |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
        |             CAST(SUM(x) AS BIGINT) AS ax,
        |             CAST(SUM(y) AS BIGINT) AS ay
        |      FROM u GROUP BY arm)
        |SELECT arm, n_users,
        |  ROUND(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS mean_post,
        |  ROUND(CAST(ax AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS mean_pre,
        |  ROUND(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE)
        |        - (CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
        |                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |                     / CAST(n * sxx - sx * sx AS DOUBLE) END)
        |          * (CAST(ax AS DOUBLE) / CAST(n_users AS DOUBLE)
        |             - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS mean_adj
        |FROM a, g ORDER BY arm""".stripMargin)

  /** Partition MANIFEST statistics — the per-partition (min, max, count,
    * null-count) table a lakehouse keeps beside the data (Iceberg
    * manifests, Delta file stats, parquet row-group footers) so planners
    * can prune partitions WITHOUT opening them: a point/range predicate
    * on `event_id` or `value` consults this KB-scale table and skips
    * every day whose [min, max] misses the predicate — the mechanism
    * behind [[qPrunedScan]]'s PushedFilters actually skipping IO at
    * 100 TB. Shape: one map-side-combinable pass (min/max/count are all
    * mergeable — no sums of doubles, so the readout is bit-exact);
    * output is bounded by the partition count, never the row count, and
    * refreshes incrementally per written partition (the
    * [[qIncrementalAgg]] discipline).
    */
  private def qPartitionStats(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("day")
  row("q_partition_stats", qPartitionStats)(
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
        |       MIN(value) AS min_value, MAX(value) AS max_value,
        |       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null_value,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Difference-in-differences readout — the quasi-experimental estimate
    * when only a BEFORE/AFTER boundary and a treated/control split exist
    * (feature rollout, pricing change): dd = (ȳ_t,post − ȳ_t,pre) −
    * (ȳ_c,post − ȳ_c,pre), which cancels both the group baseline and the
    * common time trend. Same one-pass shape as [[qCuped]]: events reduce
    * to per-user (pre, post) counts, the four cell means are single
    * divisions of exact bigint sums (bit-identical), and the subtraction
    * chain is mirrored operand-for-operand in the oracle. Degenerate
    * empty arms (possible at tiny SF — the md5 arm warning on
    * [[qAbZtest]]) read NULL through the guarded divisions instead of
    * throwing under ANSI.
    */
  private def qDiffInDiff(s: SparkSession, d: String): DataFrame = {
    val cut = lit("2024-01-15").cast("timestamp")
    val treated =
      pmod(conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long"), lit(1000000L)) < 500000L
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("x"),
        sum(when(col("ts") < cut, 0L).otherwise(1L)).as("y"))
      .withColumn("t", treated)
    def cellMean(num: Column, den: Column): Column =
      when(den > 0L, num.cast("double") / den.cast("double"))
    val agg = perUser.agg(
      sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
      sum(when(!col("t"), 1L).otherwise(0L)).as("n_c"),
      sum(when(col("t"), col("x")).otherwise(0L)).as("sx_t"),
      sum(when(col("t"), col("y")).otherwise(0L)).as("sy_t"),
      sum(when(!col("t"), col("x")).otherwise(0L)).as("sx_c"),
      sum(when(!col("t"), col("y")).otherwise(0L)).as("sy_c"))
    val (mtPre, mtPost) = (cellMean(col("sx_t"), col("n_t")),
      cellMean(col("sy_t"), col("n_t")))
    val (mcPre, mcPost) = (cellMean(col("sx_c"), col("n_c")),
      cellMean(col("sy_c"), col("n_c")))
    agg.select(
      col("n_t"), col("n_c"),
      round(mtPre, 6).as("mean_t_pre"), round(mtPost, 6).as("mean_t_post"),
      round(mcPre, 6).as("mean_c_pre"), round(mcPost, 6).as("mean_c_post"),
      round((mtPost - mtPre) - (mcPost - mcPre), 6).as("dd"))
  }
  // q_diff_in_diff: four cell means as guarded single divisions of
  // exact bigint sums; the dd subtraction chain mirrored operand-for-
  // operand (bit-identical doubles)
  row("q_diff_in_diff", qDiffInDiff)(
      """WITH u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS x,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END) AS y,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |         AS BIGINT) % 1000000 < 500000 AS t
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |         CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
        |         CAST(SUM(CASE WHEN t THEN x ELSE 0 END) AS BIGINT) AS sx_t,
        |         CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS sy_t,
        |         CAST(SUM(CASE WHEN t THEN 0 ELSE x END) AS BIGINT) AS sx_c,
        |         CAST(SUM(CASE WHEN t THEN 0 ELSE y END) AS BIGINT) AS sy_c
        |  FROM u)
        |SELECT n_t, n_c,
        |  ROUND(CASE WHEN n_t > 0
        |             THEN CAST(sx_t AS DOUBLE) / CAST(n_t AS DOUBLE) END, 6)
        |    AS mean_t_pre,
        |  ROUND(CASE WHEN n_t > 0
        |             THEN CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE) END, 6)
        |    AS mean_t_post,
        |  ROUND(CASE WHEN n_c > 0
        |             THEN CAST(sx_c AS DOUBLE) / CAST(n_c AS DOUBLE) END, 6)
        |    AS mean_c_pre,
        |  ROUND(CASE WHEN n_c > 0
        |             THEN CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE) END, 6)
        |    AS mean_c_post,
        |  ROUND((CASE WHEN n_t > 0
        |              THEN CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE) END
        |         - CASE WHEN n_t > 0
        |                THEN CAST(sx_t AS DOUBLE) / CAST(n_t AS DOUBLE) END)
        |        - (CASE WHEN n_c > 0
        |                THEN CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE) END
        |           - CASE WHEN n_c > 0
        |                  THEN CAST(sx_c AS DOUBLE) / CAST(n_c AS DOUBLE) END),
        |        6) AS dd
        |FROM g""".stripMargin)

  /** CDC changelog APPLY — materializing a base table forward through an
    * out-of-order insert/update/delete log (Debezium → lakehouse, Hudi/
    * Delta CDF): last-writer-wins per key by sequence number, deletes
    * drop the key, updates replace the value. Shape: the changelog
    * reduces FIRST with a map-side-combinable `max_by(payload, seq)` —
    * the log compaction a streaming CDC sink runs continuously — so the
    * base table joins against ONE row per touched key, never the raw
    * log; no window over the log, no ordering shuffle. The base join is
    * key-equi (bucket co-location at 100 TB — the [[qBucketedJoin]]
    * seam), and deletes fall out as a post-join filter, not an anti-join
    * pass. Beats [[qMergeUpsert]]'s single-batch full-outer shape on the
    * semantics that matter in production: multiple events per key,
    * sequence ordering, tombstones.
    */
  private def qCdcApply(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
    val log = Tables.orders(s, d).select(
      col("o_custkey").as("k"), col("o_orderkey").as("seq"),
      when(pmod(col("o_orderkey"), lit(10)) === 0, lit("D"))
        .otherwise(lit("U")).as("op"),
      col("o_totalprice").as("v"))
    // every log key exists in base here (o_custkey FK), so the operator's
    // upsert-insert path is exercised by OperatorPropertySpec instead
    Changelog(base, log)
      .select(col("k"), col("v").as("val"), col("src"))
      .orderBy("k")
  }
  // q_cdc_apply: last-writer-wins replayed as join-on-max-seq (seq is
  // unique per key, so it picks the same row as the engine's max_by)
  row("q_cdc_apply", qCdcApply)(
      """WITH ch AS (
        |  SELECT o_custkey AS k, o_orderkey AS seq,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |         o_totalprice AS v
        |  FROM orders),
        |last AS (SELECT k, MAX(seq) AS mseq FROM ch GROUP BY k),
        |fin AS (SELECT ch.k, ch.op, ch.v
        |        FROM ch JOIN last ON ch.k = last.k AND ch.seq = last.mseq)
        |SELECT c.c_custkey AS k,
        |       COALESCE(f.v, c.c_acctbal) AS val,
        |       CASE WHEN f.k IS NULL THEN 'base' ELSE 'updated' END AS src
        |FROM customer c LEFT JOIN fin f ON c.c_custkey = f.k
        |WHERE f.op IS NULL OR f.op = 'U'
        |ORDER BY k""".stripMargin)

  /** CDC → SCD2 COMPOSITION — the two changelog operators run against
    * the SAME log through genuinely different code paths, pinned
    * consistent per key: the SCD2 side replays the log as a versioned
    * history (one ordering window per key: a version opens on the first
    * U, on a value change, or on a U after a tombstone; the OPEN
    * version's value is the last row's if it is a U), while the CDC side
    * is [[graft.operators.Changelog]]'s window-free max_by compaction +
    * base join. `consistent` = open-version value null-safe-equals the
    * applied state (absent for finally-tombstoned keys) — TRUE for every
    * key is the cross-operator invariant that makes a warehouse's
    * dimension history trustworthy against its own snapshot, and the
    * oracle hash-pins it row by row. Scale: one shuffle on k for the
    * history window, the compaction is map-side combinable, values
    * compared exactly (no arithmetic on doubles).
    */
  private def qCdcScd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
    val log = Tables.orders(s, d).select(
      col("o_custkey").as("k"), col("o_orderkey").as("seq"),
      when(pmod(col("o_orderkey"), lit(10)) === 0, lit("D"))
        .otherwise(lit("U")).as("op"),
      col("o_totalprice").as("v"))
    val w = Window.partitionBy("k").orderBy("seq")
    val hist = log
      .withColumn("prev_op", lag(col("op"), 1).over(w))
      .withColumn("prev_v", lag(col("v"), 1).over(w))
    val nv = hist.filter(col("op") === "U" &&
        (col("prev_op").isNull || col("prev_op") === "D" ||
          col("prev_v") =!= col("v")))
      .groupBy("k").agg(count(lit(1)).as("n_versions"))
    val open = log.groupBy("k")
      .agg(max_by(struct(col("op"), col("v")), col("seq")).as("f"))
      .select(col("k"), when(col("f.op") === "U", col("f.v")).as("open_v"))
    val applied = Changelog(base, log)
      .filter(col("src") === "updated") // touched keys only
      .select(col("k"), col("v").as("cdc_v"))
    open.join(nv, Seq("k"), "left")
      .join(applied, Seq("k"), "left") // finally-tombstoned keys: no row
      .select(col("k"),
        coalesce(col("n_versions"), lit(0L)).as("n_versions"),
        col("open_v"), col("cdc_v"),
        (col("open_v") <=> col("cdc_v")).as("consistent"))
      .orderBy("k")
  }
  // q_cdc_scd2: SCD2 history replayed via a per-key lag window, CDC
  // state via join-on-max-seq (unique seq -> same row as max_by);
  // consistent pinned TRUE per key via null-safe equality
  row("q_cdc_scd2", qCdcScd2)(
      """WITH log AS (
        |  SELECT o_custkey AS k, o_orderkey AS seq,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |         o_totalprice AS v
        |  FROM orders),
        |h AS (SELECT k, op, v,
        |             lag(op) OVER w AS prev_op, lag(v) OVER w AS prev_v
        |      FROM log WINDOW w AS (PARTITION BY k ORDER BY seq)),
        |nv AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_versions FROM h
        |       WHERE op = 'U' AND (prev_op IS NULL OR prev_op = 'D'
        |             OR prev_v <> v)
        |       GROUP BY k),
        |last AS (SELECT k, MAX(seq) AS mseq FROM log GROUP BY k),
        |fin AS (SELECT log.k, log.op, log.v
        |        FROM log JOIN last ON log.k = last.k AND log.seq = last.mseq),
        |o AS (SELECT k, CASE WHEN op = 'U' THEN v END AS open_v FROM fin),
        |c AS (SELECT k, CASE WHEN op = 'U' THEN v END AS cdc_v FROM fin)
        |SELECT o.k, CAST(COALESCE(nv.n_versions, 0) AS BIGINT) AS n_versions,
        |       o.open_v, c.cdc_v,
        |       o.open_v IS NOT DISTINCT FROM c.cdc_v AS consistent
        |FROM o LEFT JOIN nv ON o.k = nv.k LEFT JOIN c ON o.k = c.k
        |ORDER BY o.k""".stripMargin)

  /** Mix-shift DECOMPOSITION — the "why did the topline move" answer a
    * metrics platform owes every on-call analyst: between two periods,
    * ΔR splits exactly into Σ(w₂−w₁)·r₁ (MIX — traffic moved across
    * segments) plus Σw₂·(r₂−r₁) (WITHIN — segments themselves changed),
    * per segment. Rate here is share of events with value > 500, so
    * every input is an exact bigint count; weights and rates are single
    * divisions, and the contribution products are mirrored
    * operand-for-operand in the oracle (bit-identical doubles). Shape:
    * ONE conditional-sum aggregate over segments — map-side combinable,
    * output bounded by the segment domain, events scanned exactly once —
    * with period totals folded over the compact result; segments absent
    * from a period read 0 through the conditional sums instead of
    * NULL-poisoning the decomposition.
    */
  private def qMixShift(s: SparkSession, d: String): DataFrame = {
    val cut = lit("2024-01-15").cast("timestamp")
    // ONE conditional-sum aggregate replaces the (seg, period) grid +
    // full-outer period self-join + totals pass of the first cut (which
    // planned FOUR events scans); absent-period cells read 0 through the
    // conditional sums, and the period totals ride a compact-domain
    // window over the ≤|segment|-row table (PlanAuditSpec-allowlisted)
    val pre = col("ts") < cut
    val conv = col("value") > 500.0
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val joined = Tables.events(s, d)
      .groupBy(col("event_type").as("seg"))
      .agg(
        sum(when(pre, 1L).otherwise(0L)).as("n1"),
        sum(when(pre && conv, 1L).otherwise(0L)).as("c1"),
        sum(when(!pre, 1L).otherwise(0L)).as("n2"),
        sum(when(!pre && conv, 1L).otherwise(0L)).as("c2"))
      .withColumn("t1", sum(col("n1")).over(w))
      .withColumn("t2", sum(col("n2")).over(w))
    def rate(c: Column, n: Column): Column =
      when(n > 0L, c.cast("double") / n.cast("double")).otherwise(lit(0.0))
    val (w1, w2) = (rate(col("n1"), col("t1")), rate(col("n2"), col("t2")))
    val (r1, r2) = (rate(col("c1"), col("n1")), rate(col("c2"), col("n2")))
    joined.select(col("seg"),
        round(w1, 6).as("w1"), round(w2, 6).as("w2"),
        round(r1, 6).as("r1"), round(r2, 6).as("r2"),
        // + 0.0 canonicalizes IEEE -0.0 from tiny negative contributions
        (round((w2 - w1) * r1, 6) + 0.0).as("mix_contrib"),
        (round(w2 * (r2 - r1), 6) + 0.0).as("within_contrib"))
      .orderBy("seg")
  }
  // q_mix_shift: weights/rates as guarded single divisions of exact
  // bigint counts; contribution products mirrored operand-for-operand
  row("q_mix_shift", qMixShift)(
      """WITH cell AS (
        |  SELECT event_type AS seg, ts < TIMESTAMP '2024-01-15' AS pre,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CASE WHEN value > 500.0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |p1 AS (SELECT seg, n AS n1, c AS c1 FROM cell WHERE pre),
        |p2 AS (SELECT seg AS seg2, n AS n2, c AS c2 FROM cell WHERE NOT pre),
        |tot AS (SELECT (SELECT CAST(SUM(n1) AS BIGINT) FROM p1) AS t1,
        |               (SELECT CAST(SUM(n2) AS BIGINT) FROM p2) AS t2),
        |j AS (SELECT COALESCE(seg, seg2) AS seg,
        |             COALESCE(n1, 0) AS n1, COALESCE(c1, 0) AS c1,
        |             COALESCE(n2, 0) AS n2, COALESCE(c2, 0) AS c2, t1, t2
        |      FROM p1 FULL OUTER JOIN p2 ON seg = seg2, tot),
        |r AS (SELECT seg,
        |        CASE WHEN t1 > 0 THEN CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)
        |             ELSE 0.0 END AS w1,
        |        CASE WHEN t2 > 0 THEN CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE)
        |             ELSE 0.0 END AS w2,
        |        CASE WHEN n1 > 0 THEN CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |             ELSE 0.0 END AS r1,
        |        CASE WHEN n2 > 0 THEN CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)
        |             ELSE 0.0 END AS r2
        |      FROM j)
        |SELECT seg, ROUND(w1, 6) AS w1, ROUND(w2, 6) AS w2,
        |       ROUND(r1, 6) AS r1, ROUND(r2, 6) AS r2,
        |       ROUND((w2 - w1) * r1, 6) + 0.0 AS mix_contrib,
        |       ROUND(w2 * (r2 - r1), 6) + 0.0 AS within_contrib
        |FROM r ORDER BY seg""".stripMargin)

  /** Global DICTIONARY ENCODING — assigning dense contiguous ids to a
    * string domain (vocab building, categorical interning, the id
    * remapping every embedding table / one-hot pipeline needs before
    * training): ids are frequency-descending (ties on term) so the
    * hottest terms get the smallest ids — the layout that makes the
    * downstream embedding table cache-friendly. Shape: one
    * map-side-combinable frequency aggregate over the token stream, then
    * the DISTRIBUTED global index ([[PositionalTake.withGlobalIndex]] —
    * range-partition sort + per-partition offsets, never a
    * single-partition ROW_NUMBER window) hands out dense ids; output is
    * bounded by the vocabulary, not the corpus. Encoding the corpus back
    * is then one broadcast (small vocab) or shuffle (web-scale vocab)
    * equi-join against this table — the [[qJoin]] seam.
    */
  private def qDictEncode(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .withColumn("neg_freq", -col("freq"))
    PositionalTake.withGlobalIndex(vocab, Seq("neg_freq", "term"), "id")
      .select(col("term"), col("id"), col("freq"))
      .orderBy("id")
  }
  // q_dict_encode: the distributed global index replayed as DuckDB's
  // ROW_NUMBER over the same (freq DESC, term) total order; same
  // whitespace tokenization as q_explode_tokens
  row("q_dict_encode", qDictEncode)(
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                            x -> len(x) > 0)) AS term
        |  FROM documents),
        |v AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
        |      FROM tok GROUP BY term)
        |SELECT term,
        |       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) - 1
        |            AS BIGINT) AS id,
        |       freq
        |FROM v ORDER BY id""".stripMargin)

  /** AUDIO header audit — [[qMediaHeaders]]'s counterpart for the second
    * media modality: serialize a real 44-byte PCM WAV (RIFF) header per
    * row, then parse the fields back by byte offset. RIFF integers are
    * LITTLE-endian, so this exercises the opposite byte order from PNG's
    * big-endian IHDR — the serializer and parser both go through an
    * explicit per-byte swap ([[Multimodal.wavHeader]]), all codegen'd
    * binary slicing, no UDF. This is the header-level pass a 100 TB
    * audio-ingest runs BEFORE paying for sample decode: container magic,
    * channel/rate sanity, and declared-size vs actual-size reconciliation
    * — only sample decode itself stays behind the declared codec stub.
    * The oracle computes the expected fields arithmetically, so only a
    * byte-correct serialize+parse round trip matches.
    */
  private def qAudioHeaders(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d).select(
      col("doc_id"),
      Multimodal.wavHeader(
        lit(1L) + pmod(col("doc_id"), lit(2L)),
        lit(8000L) + lit(100L) * pmod(col("doc_id"), lit(80L))).as("media"))
    media.select(
        col("doc_id"),
        Multimodal.wavRiffOk(col("media")).as("riff_ok"),
        Multimodal.wavChannels(col("media")).as("channels"),
        Multimodal.wavSampleRate(col("media")).as("sample_rate"),
        Multimodal.wavByteRate(col("media")).as("byte_rate"),
        Multimodal.wavDataSize(col("media")).as("data_size"),
        length(col("media")).cast("long").as("n_bytes"))
      .orderBy("doc_id")
  }
  // q_audio_headers: expected fields computed arithmetically — only a
  // byte-correct little-endian WAV serialize+parse round trip matches
  row("q_audio_headers", qAudioHeaders)(
      """SELECT doc_id, TRUE AS riff_ok,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |       CAST(8000 + 100 * (doc_id % 80) AS BIGINT) AS sample_rate,
        |       CAST((8000 + 100 * (doc_id % 80)) * (1 + doc_id % 2) * 2
        |            AS BIGINT) AS byte_rate,
        |       CAST((8000 + 100 * (doc_id % 80)) * (1 + doc_id % 2) * 2
        |            AS BIGINT) AS data_size,
        |       CAST(44 AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin)

  /** SQL-defined scalar function (Spark 4 `CREATE FUNCTION … RETURN`) —
    * the UDF users SHOULD write at 100 TB: unlike a JVM/Python UDF
    * (black box: blocks predicate pushdown, column pruning through it,
    * and whole-stage codegen), a SQL UDF is INLINED into the plan by
    * Catalyst, so `softsign(value)` below costs exactly what writing the
    * expression by hand costs — it stays inside WholeStageCodegen and
    * the optimizer sees through it. The function body is a rational
    * softsign x/(1+|x|) (one division of IEEE-exact operands — portable;
    * a sigmoid's exp() would not be, libm differs across engines). The
    * oracle inlines the same expression, which is also exactly what
    * Catalyst does — the row pins that equivalence.
    */
  private def qSqlUdf(s: SparkSession, d: String): DataFrame = {
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_softsign(x DOUBLE)
        |RETURNS DOUBLE RETURN x / (1.0 + abs(x))""".stripMargin)
    Tables.events(s, d).createOrReplaceTempView(s"graft_udf_ev_${dirTag(d)}")
    s.sql(
      s"""SELECT event_type,
         |       ROUND(SUM(graft_softsign(value - 500.0)), 6) AS score,
         |       COUNT(*) AS n
         |FROM graft_udf_ev_${dirTag(d)}
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }
  // q_sql_udf: the oracle inlines the function body — exactly what
  // Catalyst does with a SQL UDF (the equivalence this row pins)
  row("q_sql_udf", qSqlUdf)(
      """SELECT event_type,
        |       ROUND(SUM((value - 500.0) / (1.0 + abs(value - 500.0))), 6)
        |         AS score,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** SQL-defined TABLE function (Spark 4 `CREATE FUNCTION … RETURNS
    * TABLE`) applied via LATERAL — the set-returning companion of
    * [[qSqlUdf]]: each order priority's total revenue splits into
    * progressive tier bands (the tax-bracket decomposition), one output
    * row per non-empty band. PLAN DISCIPLINE (measured, not assumed):
    * Spark executes a correlated SQL UDTF by DEDUPLICATING the
    * correlation key, running the body once per distinct value, and
    * joining back — so a LATERAL over a raw fact column would add a
    * corpus-wide distinct shuffle plus a join-back per use (and the
    * UNION-of-SELECTs body form is worse still: one aggregated fact scan
    * PER BRANCH). The rule this row pins: correlate SQL UDTFs on COMPACT
    * domains (here the 5-row per-priority aggregate; the fact is scanned
    * exactly once), and keep the body a single Generate-able `inline`
    * projection. Per-priority totals are summed as integer CENTS (exact)
    * and the band arithmetic is single LEAST/subtractions of the
    * cents-derived double — every value bit-stable across engines, no
    * rounding anywhere.
    */
  private def qSqlUdtf(s: SparkSession, d: String): DataFrame = {
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_tiers(total DOUBLE)
        |RETURNS TABLE (tier STRING, amount DOUBLE)
        |RETURN SELECT tier, amount FROM (
        |  SELECT inline(array(
        |    struct('low' AS tier, LEAST(total, 10000000.0D) AS amount),
        |    struct('mid' AS tier,
        |           LEAST(total - 10000000.0D, 40000000.0D) AS amount),
        |    struct('high' AS tier, (total - 50000000.0D) AS amount))))
        |WHERE amount > 0.0D""".stripMargin)
    Tables.orders(s, d).createOrReplaceTempView(s"graft_udtf_o_${dirTag(d)}")
    s.sql(
      s"""WITH p AS (
         |  SELECT o_orderpriority AS priority,
         |         CAST(SUM(CAST(ROUND(o_totalprice * 100.0D) AS BIGINT))
         |              AS DOUBLE) / 100.0D AS total
         |  FROM graft_udtf_o_${dirTag(d)} GROUP BY o_orderpriority)
         |SELECT priority, tier, amount
         |FROM p, LATERAL graft_tiers(total)
         |ORDER BY priority, tier""".stripMargin)
  }
  // q_sql_udtf: the table function's body replayed as a LATERAL
  // union over the same compact per-priority cents-exact totals; band
  // amounts are single LEAST/subtractions of the identical cents-
  // derived double (bit-stable both engines, no rounding)
  row("q_sql_udtf", qSqlUdtf)(
      """WITH p AS (
        |  SELECT o_orderpriority AS priority,
        |         CAST(SUM(CAST(ROUND(o_totalprice * CAST(100.0 AS DOUBLE))
        |              AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS total
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT priority, t.tier, t.amount
        |FROM p, LATERAL (
        |  SELECT u.tier, u.amount FROM (
        |    SELECT 'low' AS tier,
        |           LEAST(total, CAST(10000000.0 AS DOUBLE)) AS amount
        |    UNION ALL
        |    SELECT 'mid', LEAST(total - CAST(10000000.0 AS DOUBLE),
        |                        CAST(40000000.0 AS DOUBLE))
        |    UNION ALL
        |    SELECT 'high', total - CAST(50000000.0 AS DOUBLE)) u
        |  WHERE u.amount > CAST(0.0 AS DOUBLE)) t
        |ORDER BY priority, tier""".stripMargin)

  /** NULL-KEY skew bypass on an outer join — the silent 100 TB killer
    * this row pins the remedy for: in a shuffled left join, every
    * null-key row hashes to the SAME partition, so a 33%-null FK column
    * (unset optional references are exactly this common) turns into one
    * straggler task holding a third of the fact table. SQL semantics say
    * null keys can never match, so the fix is structural, not statistical
    * (AQE skew-split can only shave it): route `k IS NULL` rows AROUND
    * the exchange entirely and union them back as unmatched — the join
    * shuffles only the matchable minority. The oracle is the plain LEFT
    * JOIN (bypass must be invisible in results); negative keys provide a
    * real unmatched-but-non-null population so all three outcome buckets
    * are exercised. Sums stay exact (integer-valued quantities).
    * Deliberate tradeoff: the two union branches scan the fact twice
    * (column-pruned to 2 columns) — at scale a second pruned scan is
    * cheap, the straggler shuffle partition is not.
    */
  private def qNullSkewJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      when(pmod(col("l_orderkey"), lit(3)) === 0, lit(null))
        .when(pmod(col("l_orderkey"), lit(3)) === 1, -col("l_orderkey"))
        .otherwise(col("l_orderkey")).cast("long").as("k"),
      col("l_quantity").as("qty"))
    val nulls = li.filter(col("k").isNull)
      .select(lit("null_key").as("bucket"), col("qty"))
    val probe = li.filter(col("k").isNotNull)
      .join(Tables.orders(s, d).select(col("o_orderkey")),
        col("k") === col("o_orderkey"), "left")
      .select(when(col("o_orderkey").isNull, lit("unmatched"))
        .otherwise(lit("matched")).as("bucket"), col("qty"))
    nulls.unionByName(probe)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("qty")).cast("double").as("sum_qty"))
      .orderBy("bucket")
  }
  // q_null_skew_join: the oracle is the PLAIN left join — the engine's
  // null-key bypass must be invisible in results
  row("q_null_skew_join", qNullSkewJoin)(
      """WITH li AS (
        |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN NULL
        |              WHEN l_orderkey % 3 = 1 THEN -l_orderkey
        |              ELSE l_orderkey END AS k,
        |         l_quantity AS qty
        |  FROM lineitem)
        |SELECT CASE WHEN k IS NULL THEN 'null_key'
        |            WHEN o_orderkey IS NULL THEN 'unmatched'
        |            ELSE 'matched' END AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(qty) AS DOUBLE) AS sum_qty
        |FROM li LEFT JOIN orders ON k = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Rolling 7-day distinct users (rolling MAU) — the windowed
    * COUNT(DISTINCT) no window frame can express (distinct aggregates
    * are unsupported over RANGE frames, and a naive per-day self-join
    * rescans the stream once per day). Scale shape: the stream reduces
    * ONCE to the compact distinct (user, day) activity table; each
    * activity row then fans out to the ≤7 window anchors it supports (a
    * CONSTANT map-side `explode(sequence(...))` — the [[qSpatialJoin]]
    * replication idea on the time axis), a semi-join bounds anchors to
    * observed days, and one (day)-keyed shuffle finishes with
    * countDistinct. State is bounded by 7 × |activity|, never
    * days × stream. The observed-day bound ("report only days that have
    * their own activity") is folded into the SAME aggregate as a
    * day==anchor flag rather than a second distinct + semi-join — the
    * first cut planned the activity distinct twice (no runtime exchange
    * reuse: 12 exchanges, two events scans; this shape halves both).
    */
  private def qRollingMau(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(to_date(col("ts")).as("aday"), col("user_id").as("u"))
      .distinct()
    act.select(col("aday"), col("u"),
        explode(sequence(col("aday"), date_add(col("aday"), 6))).as("day"))
      .groupBy("day")
      .agg(countDistinct(col("u")).as("mau7"),
        max(when(col("day") === col("aday"), 1).otherwise(0)).as("obs"))
      .filter(col("obs") === 1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("mau7"))
      .orderBy("day")
  }
  // q_rolling_mau: the fan-out-to-anchors plan replayed as a direct
  // interval join over the compact activity table
  row("q_rolling_mau", qRollingMau)(
      """WITH act AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS aday, user_id FROM events),
        |axis AS (SELECT DISTINCT aday AS day FROM act)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau7
        |FROM axis JOIN act ON aday BETWEEN day - 6 AND day
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Seasonal-naive forecast BACKTEST — the baseline every forecasting
    * pipeline must beat (and the degradation alarm when a fancier model
    * silently rots): forecast(d) = actual(d − 7), scored per day. Shape:
    * the stream reduces ONCE to the compact daily-count table (exact
    * bigint counts — the whole backtest stays in integer space, no libm,
    * no fitted coefficients to drift across engines); forecast attachment
    * is a self-equi-join of that ~|days| table on the shifted key, never
    * a second pass over events. Days without a 7-back observation emit
    * NULL forecast (the honest cold-start readout) rather than being
    * silently dropped.
    */
  private def qSeasonalNaive(s: SparkSession, d: String): DataFrame = {
    // forecast attachment is a RANGE [-7,-7] window over the compact
    // daily table (date-valued, so calendar gaps read NULL — a row-offset
    // lag(7) would silently mis-align across gaps); the first cut
    // self-joined the aggregate on the shifted key, which planned the
    // events scan twice with no runtime exchange reuse
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day_num").rangeBetween(-7, -7)
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("actual"))
      .withColumn("day_num",
        datediff(to_date(col("day")), to_date(lit("2024-01-01"))))
      .withColumn("forecast", max(col("actual")).over(w))
      .select(col("day"), col("actual"), col("forecast"),
        abs(col("actual") - col("forecast")).as("abs_err"))
      .orderBy("day")
  }
  row("q_seasonal_naive", qSeasonalNaive)(
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(COUNT(*) AS BIGINT) AS actual
        |  FROM events GROUP BY 1)
        |SELECT d.day, d.actual, l.actual AS forecast,
        |       ABS(d.actual - l.actual) AS abs_err
        |FROM daily d LEFT JOIN daily l
        |  ON CAST(d.day AS DATE) = CAST(l.day AS DATE) + 7
        |ORDER BY d.day""".stripMargin)

  /** Byte-range COALESCING — the shard-read planner a WebDataset-style
    * ingest runs before touching storage: given (shard, offset, length)
    * index entries, merge ranges whose gap is ≤ 4 KB into one contiguous
    * read, because at 100 TB the seek/request count — not bytes — is
    * what kills object-store throughput (every merged gap is one less
    * GET). The classic interval-union: per shard, a range starts a new
    * island iff its offset clears the running max end-so-far + gap
    * (prefix-max window, PARTITIONED by shard — parallel in the shard
    * count, no global state); island ids are a running flag sum; one
    * group-by emits (read_start, read_end, n_ranges) per coalesced read.
    * All exact integer arithmetic; deterministic tie order (offset, end).
    */
  private def qRangeCoalesce(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same-offset entries pre-combine map-side (max end carries both;
    // the count keeps them audited) — this also makes the window sort
    // key TOTAL, so the two window passes cannot disagree on tie order
    // in any engine (a non-total order here is a cross-engine
    // nondeterminism trap: island ids of tied rows depend on visit order)
    // r19 MEASURED REJECTION (guide §2.4 candidate): collapsing the two
    // exchanges — repartition(shard) up front so the (shard, off)
    // pre-combine, the shard window, and the (shard, island) group-by all
    // ride one shuffle — measured 1.82 s vs 1.30 s baseline same-sitting
    // (calm sentinel): the pre-combine's map-side partial runs inside the
    // codegen'd scan stage today and the single-exchange shape serializes
    // scan + full aggregation + two window passes into one post-shuffle
    // stage. The two-exchange shape stays.
    val uniq = Tables.lineitem(s, d).select(
        pmod(col("l_suppkey"), lit(50L)).as("shard"),
        pmod(col("l_orderkey") * 1000L, lit(10000000L)).as("off"),
        (lit(500L) + col("l_quantity").cast("long") * 10L).as("len"))
      .groupBy("shard", "off")
      .agg(max(col("off") + col("len")).as("end"), count(lit(1)).as("cnt"))
    val order = Window.partitionBy("shard").orderBy("off")
    val prevMaxEnd = max(col("end"))
      .over(order.rowsBetween(Window.unboundedPreceding, -1))
    uniq
      .withColumn("brk",
        when(prevMaxEnd.isNull || col("off") > prevMaxEnd + 4096L, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("shard", "island")
      .agg(min(col("off")).as("read_start"), max(col("end")).as("read_end"),
        sum(col("cnt")).as("n_ranges"))
      .select(col("shard"), col("read_start"), col("read_end"),
        col("n_ranges"))
      .orderBy("shard", "read_start")
  }
  // q_range_coalesce: identical interval-union replay; the (shard, off)
  // pre-combine makes the window order total, so both engines assign
  // identical islands
  row("q_range_coalesce", qRangeCoalesce)(
      """WITH uniq AS (
        |  SELECT ((l_suppkey % 50) + 50) % 50 AS shard,
        |         ((l_orderkey * 1000) % 10000000 + 10000000) % 10000000
        |           AS off,
        |         MAX(((l_orderkey * 1000) % 10000000 + 10000000) % 10000000
        |             + 500 + CAST(l_quantity AS BIGINT) * 10) AS e,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT shard, off, e, cnt,
        |        MAX(e) OVER (PARTITION BY shard ORDER BY off
        |                     ROWS BETWEEN UNBOUNDED PRECEDING
        |                     AND 1 PRECEDING) AS pme
        |      FROM uniq),
        |i AS (SELECT shard, off, e, cnt,
        |        SUM(CASE WHEN pme IS NULL OR off > pme + 4096
        |                 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY shard ORDER BY off
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS island
        |      FROM m)
        |SELECT shard, MIN(off) AS read_start, MAX(e) AS read_end,
        |       CAST(SUM(cnt) AS BIGINT) AS n_ranges
        |FROM i GROUP BY shard, island
        |ORDER BY shard, read_start""".stripMargin)

  /** Cost-based-optimizer star join — the one Catalyst surface the rest
    * of the catalog leaves untouched: catalog tables carry ANALYZE'd
    * row/column statistics, and with `spark.sql.cbo.enabled` +
    * `joinReorder.enabled` the optimizer REORDERS the syntactic
    * ((lineitem ⋈ orders) ⋈ customer) chain so the two small relations
    * join first (the filtered customer side, then orders) and the fact
    * table joins the reduced intermediate — the stats-driven plan a
    * 100 TB star schema lives or dies by, vs the syntactic order that
    * would join the two big tables first. The conf scope
    * ([[Support.withConf]]; shared session) forces `executedPlan` INSIDE
    * it — SQLConf is read at plan time, not build time — so the pinned
    * `optimizedPlan` is the CBO one (PlanAuditSpec asserts the innermost
    * join excludes lineitem). Tables are session-scoped (in-memory
    * catalog) external parquet mappings named per corpus dir; ANALYZE
    * cost is one metadata+stats scan per table, amortizable in
    * production as a post-ingest step. Result is join-order-invariant,
    * so the oracle is the plain relational answer.
    */
  private def qCboReorder(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    def tbl(name: String) = s"graft_cbo_${tag}_$name"
    // stats are a POST-INGEST step, not per-query work: create + ANALYZE
    // once per session per corpus dir (the in-memory catalog is the
    // session-scoped staging here); repeat invocations pay zero stat scans
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey, o_custkey",
        "customer" -> "c_custkey, c_mktsegment").foreach { case (t, cols) =>
      if (!s.catalog.tableExists(tbl(t))) {
        s.sql(s"CREATE TABLE ${tbl(t)} USING parquet " +
          s"LOCATION '$d/$t.parquet'")
        s.sql(s"ANALYZE TABLE ${tbl(t)} COMPUTE STATISTICS FOR COLUMNS $cols")
      }
    }
    withConf(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val df = s.sql(
        s"""SELECT c_mktsegment,
           |       COUNT(*) AS n_items,
           |       SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
           |FROM ${tbl("lineitem")}
           |JOIN ${tbl("orders")} ON l_orderkey = o_orderkey
           |JOIN ${tbl("customer")} ON o_custkey = c_custkey
           |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      df.queryExecution.executedPlan // force planning inside the CBO window
      // Verify/Bench materialize via a NEW QueryExecution (.coalesce(1)
      // .write) built AFTER the scope restores the confs — without a
      // cache they would execute a non-CBO replan. Cache the (2-row) result and
      // populate it HERE, so every downstream action reads the plan this
      // row exists to exercise. cache() after the force above keeps THIS
      // df's optimizedPlan the raw CBO join tree (what PlanAuditSpec pins).
      df.cache()
      df.count()
      df
    }
  }
  // q_cbo_reorder: join-order-invariant relational answer — the Spark
  // side exists to exercise ANALYZE stats + CBO join reorder; the
  // result must be the plain 3-table star answer under any order
  row("q_cbo_reorder", qCboReorder)(
      """SELECT c_mktsegment,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  /** `percentile_disc` vs `percentile_cont` CROSS-CHECK (the ANSI
    * WITHIN GROUP forms) — the semantics difference that silently skews
    * SLO dashboards: cont INTERPOLATES between observations (its p99 may
    * be a latency no request ever had), disc returns the smallest
    * OBSERVED value with cume_dist ≥ p (what "p99 latency" should
    * report). Emitting both per group pins the divergence explicitly.
    * The Spark side and the oracle BOTH replay disc AND cont from their
    * definitions (disc: min value with cume_dist ≥ p; cont: linear
    * interpolation between the two order statistics bracketing position
    * p·(n−1)) so no builtin tie/index convention is trusted. ONE sort,
    * not four buffers: cume_dist, row_number and the unbounded count
    * share a single window spec → one WindowExec, one per-group sort —
    * and the follow-on aggregate reuses the window's flag-partitioning
    * (no second exchange). No percentile buffer at all: the cont points
    * are positional CASE-mins over the same sorted stream. FP
    * portability: the interpolation is the identical op chain on both
    * engines (one multiply of exact ints, floor, one subtract, one
    * multiply, one add — no multi-term sums), with 0.5/0.9 cast to
    * DOUBLE on the DuckDB side (it parses bare decimals as DECIMAL).
    * Scale note: exact sort-based — the 100 TB path is the GK sketch
    * row ([[qApproxQuantiles]]) with this as the audit.
    */
  private def qPercentileDisc(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .createOrReplaceTempView(s"graft_pd_li_${dirTag(d)}")
    s.sql(
      s"""WITH c AS (
         |  SELECT l_returnflag, l_extendedprice AS v,
         |         cume_dist() OVER w AS cd,
         |         row_number() OVER w AS rn,
         |         count(*) OVER (PARTITION BY l_returnflag
         |           ORDER BY l_extendedprice
         |           ROWS BETWEEN UNBOUNDED PRECEDING
         |                    AND UNBOUNDED FOLLOWING) AS n
         |  FROM graft_pd_li_${dirTag(d)}
         |  WINDOW w AS (PARTITION BY l_returnflag
         |               ORDER BY l_extendedprice)),
         |g AS (
         |  SELECT l_returnflag,
         |         MAX(CAST(0.5D * CAST(n - 1 AS DOUBLE) AS DOUBLE)) AS pos50,
         |         MAX(CAST(0.9D * CAST(n - 1 AS DOUBLE) AS DOUBLE)) AS pos90,
         |         MIN(CASE WHEN cd >= 0.5D THEN v END) AS p50_disc,
         |         MIN(CASE WHEN cd >= 0.9D THEN v END) AS p90_disc,
         |         MIN(CASE WHEN rn = CAST(FLOOR(0.5D * CAST(n - 1 AS DOUBLE))
         |             AS BIGINT) + 1 THEN v END) AS lo50,
         |         MIN(CASE WHEN rn = CAST(CEIL(0.5D * CAST(n - 1 AS DOUBLE))
         |             AS BIGINT) + 1 THEN v END) AS hi50,
         |         MIN(CASE WHEN rn = CAST(FLOOR(0.9D * CAST(n - 1 AS DOUBLE))
         |             AS BIGINT) + 1 THEN v END) AS lo90,
         |         MIN(CASE WHEN rn = CAST(CEIL(0.9D * CAST(n - 1 AS DOUBLE))
         |             AS BIGINT) + 1 THEN v END) AS hi90
         |  FROM c GROUP BY 1)
         |SELECT l_returnflag, p50_disc, p90_disc,
         |       ROUND(lo50 + (hi50 - lo50) * (pos50 - FLOOR(pos50)), 4)
         |         AS p50_cont,
         |       ROUND(lo90 + (hi90 - lo90) * (pos90 - FLOOR(pos90)), 4)
         |         AS p90_cont
         |FROM g ORDER BY l_returnflag""".stripMargin)
  }
  // q_percentile_disc: disc AND cont replayed from their DEFINITIONS
  // (disc: min observed value with cume_dist >= p; cont: interpolation
  // between the order statistics at floor/ceil of p*(n-1)) so no
  // builtin tie/index convention is trusted; the interpolation is the
  // IDENTICAL op chain as the Spark side (oracle float law), with the
  // p literals cast to DOUBLE (DuckDB parses bare decimals as DECIMAL)
  row("q_percentile_disc", qPercentileDisc, Scaling)(
      """WITH c AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         cume_dist() OVER w AS cd,
        |         row_number() OVER w AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice
        |           ROWS BETWEEN UNBOUNDED PRECEDING
        |                    AND UNBOUNDED FOLLOWING) AS n
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice)),
        |g AS (
        |  SELECT l_returnflag,
        |    MAX(CAST(0.5 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS pos50,
        |    MAX(CAST(0.9 AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS pos90,
        |    MIN(CASE WHEN cd >= CAST(0.5 AS DOUBLE) THEN v END) AS p50_disc,
        |    MIN(CASE WHEN cd >= CAST(0.9 AS DOUBLE) THEN v END) AS p90_disc,
        |    MIN(CASE WHEN rn = CAST(FLOOR(CAST(0.5 AS DOUBLE)
        |        * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS lo50,
        |    MIN(CASE WHEN rn = CAST(CEIL(CAST(0.5 AS DOUBLE)
        |        * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS hi50,
        |    MIN(CASE WHEN rn = CAST(FLOOR(CAST(0.9 AS DOUBLE)
        |        * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS lo90,
        |    MIN(CASE WHEN rn = CAST(CEIL(CAST(0.9 AS DOUBLE)
        |        * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS hi90
        |  FROM c GROUP BY 1)
        |SELECT l_returnflag, p50_disc, p90_disc,
        |       ROUND(lo50 + (hi50 - lo50) * (pos50 - FLOOR(pos50)), 4)
        |         AS p50_cont,
        |       ROUND(lo90 + (hi90 - lo90) * (pos90 - FLOOR(pos90)), 4)
        |         AS p90_cont
        |FROM g ORDER BY 1""".stripMargin)
}
