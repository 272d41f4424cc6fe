package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.catalog.Support._

/** TPC-H queries over the testdata tables, each with its DuckDB oracle. */
object Tpch extends Family {

  /** The canonical TPC-H Q1 pricing summary in full — every aggregate of
    * the classic report (sum qty/base/disc-price/charge, three averages,
    * count) with the shipdate cutoff, grouped on the 4-cell
    * (returnflag, linestatus) domain. [[qGroupAgg]] carries a reduced
    * form; this row is the recognizable benchmark shape: one map-side-
    * combinable aggregate over a pushed-down scan filter, the plan every
    * OLAP engine is first judged on. Money sums accumulate as EXACT
    * integer units (cents × discount% × tax% — 1e-6-currency units for
    * the charge; r12: a fixture sum_disc_price lands EXACTLY on a
    * 2dp round boundary at two SFs, so the old round(double-sum) was a
    * partial-order coin flip) with one unrounded double division each;
    * averages stay round(avg) — audited boundary-free on these
    * fixtures, and quantity/discount sums are order-exact integers in
    * double space. Unit products stay < 2e11 per row, 7 orders below
    * int64 overflow even at 1e7-row groups; a larger engine would
    * switch the charge sum to decimal(38,0).
    */
  private def qTpchQ1(s: SparkSession, d: String): DataFrame = {
    val pu2 = round(col("l_extendedprice") * 100).cast("long")
    val d2 = round(col("l_discount") * 100).cast("long")
    val t2 = round(col("l_tax") * 100).cast("long")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        (sum(pu2).cast("double") / 100.0).as("sum_base_price"),
        (sum(pu2 * (lit(100L) - d2)).cast("double") / 10000.0)
          .as("sum_disc_price"),
        (sum(pu2 * (lit(100L) - d2) * (lit(100L) + t2)).cast("double")
          / 1000000.0).as("sum_charge"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }
  // q_tpch_q1: identical operand order in the derived measures; money
  // sums round at 2, averages at 6
  row("q_tpch_q1", qTpchQ1)(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |         / 100.0 AS sum_base_price,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |            AS DOUBLE) / 10000.0 AS sum_disc_price,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) *
        |                (100 + CAST(ROUND(l_tax * 100) AS BIGINT)))
        |            AS DOUBLE) / 1000000.0 AS sum_charge,
        |       ROUND(AVG(l_quantity), 6) AS avg_qty,
        |       ROUND(AVG(l_extendedprice), 6) AS avg_price,
        |       ROUND(AVG(l_discount), 6) AS avg_disc,
        |       CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** TPC-H Q6, the forecast-revenue-change query — the OTHER benchmark
    * signature next to [[qTpchQ1]]: a pure filter-aggregate whose entire
    * cost is the scan, so it measures pushdown + vectorized decode and
    * nothing else. All three predicates reach the parquet reader
    * (`PushedFilters`), the aggregate is one partial/final sum, and no
    * shuffle carries more than a single running double per partition.
    */
  private def qTpchQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
        count(lit(1)).as("n_rows"))

  // The TPC-H join suite, adapted to this corpus's reduced schemas (no
  // partsupp table, no l_shipmode/commitdate, single-word p_type, no
  // o_shippriority): Q3/Q4/Q5/Q7/Q8/Q10/Q13/Q14/Q15/Q17/Q18/Q19 beside
  // Q1/Q6's scans — the canonical multi-join benchmark shapes an OLAP
  // engine is judged on. (Q2/Q9/Q11/Q16/Q20 are fixture-blocked: the
  // test corpus ships no partsupp table; Q12 needs ship mode and Q22 the
  // phone column, both absent. Q21's commit/receipt lateness is adapted
  // as qTpchQ21 via the same ship-after-order test Q4 uses.)
  // Plan discipline shared by all five: filters sit ON the scans (pushed
  // to parquet), tiny dims (region, nation) are explicit broadcasts,
  // SF-scaling tables (customer, orders, supplier, part) join by hash on
  // their PK-FK keys and are left to AQE to broadcast when a filter makes
  // a side small — at 100 TB those sides are cluster-scale and the
  // shuffle join on the key IS the plan. Every top-k is orderBy.limit
  // (TakeOrderedAndProject), ordered on the revenue with key tiebreaks.
  // Exactness discipline: price and discount are 2-decimal values, so
  // per-line revenue is accumulated as the EXACT integer
  // round(price·100)·(100 − round(disc·100)) in 10⁻⁴ currency units; the
  // integer sum is bit-identical everywhere and divides back to money
  // ONCE per group with no decimal rounding at all — a float sum rounds
  // differently by add order, and even an exact sum hits the
  // round-semantics split (Spark rounds the shortest decimal string,
  // DuckDB the binary value: an exact 307843.595 went .60 vs .59), so
  // the row's money value is the raw units/1e4 quotient, identical in
  // both engines because both divide the same long by the same constant.
  // q_tpch_q6: pure filter-aggregate; one rounded money sum
  row("q_tpch_q6", qTpchQ6)(
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)

  /** Per-line revenue `l_extendedprice·(1−l_discount)` in exact 1e-4
    * currency units (long). Safe to 2^53 ≈ 9e15 units per sum.
    */
  private[graft] def revUnits: org.apache.spark.sql.Column =
    round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))

  /** TPC-H Q3 (shipping priority): unshipped BUILDING-segment orders by
    * revenue. Output drops o_shippriority (absent here).
    */
  private def qTpchQ3(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
      .select(col("l_orderkey"), revUnits.as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg((sum(col("rev")) / 10000.0).as("revenue"))
      .orderBy(desc("revenue"), col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
  }
  // q_tpch_q3/q5/q10/q14/q18: the same joins, group keys, exact
  // integer-unit revenue sums, and (revenue, key) top-k tiebreaks as
  // the engine — see the qTpchQ3 suite note on rounding
  row("q_tpch_q3", qTpchQ3)(
      """SELECT l_orderkey, revenue,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
        |FROM (
        |  SELECT l_orderkey, o_orderdate,
        |         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |           / 10000.0 AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
        |  GROUP BY 1, 2)
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin)

  /** TPC-H Q5 (local supplier volume): 1996 revenue per ASIA nation where
    * the supplier and customer share the nation. The nation⋈region
    * reduction broadcasts (≤25 rows); the supplier join carries BOTH the
    * s_suppkey equi-key and the s_nationkey=c_nationkey locality condition
    * in one hash join.
    */
  private def qTpchQ5(s: SparkSession, d: String): DataFrame = {
    val asiaN = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), revUnits.as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg((sum(col("rev")) / 10000.0).as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }
  row("q_tpch_q5", qTpchQ5)(
      """SELECT n_name,
        |       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |         / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)

  /** TPC-H Q4 (order-priority checking), adapted: orders in a quarter
    * with at least one line item shipped AFTER the order date (the
    * reduced schema has no commit/receipt dates; ship-after-order is the
    * analogous lateness EXISTS), counted by priority. The correlated
    * EXISTS plans as a LEFT SEMI join whose non-equi lateness condition
    * rides the equi-join on the order key — one shuffle, no subquery
    * re-execution per row.
    */
  private def qTpchQ4(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    ord.join(
        Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }
  row("q_tpch_q4", qTpchQ4)(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** TPC-H Q7 (volume shipping): 1996-1997 revenue between a nation PAIR,
    * supplier nation × customer nation × year — the two-role dimension
    * join (nation joined twice under different roles). Both nation sides
    * are pre-filtered to the pair and broadcast, so the supplier and
    * customer joins SEMI-reduce their fact sides before the asymmetric
    * pair filter runs.
    */
  private def qTpchQ7(s: SparkSession, d: String): DataFrame = {
    // NATION_18/19: a supplier-populated pair at every test SF (sf0.001
    // carries only 10 suppliers across 25 nations, so most pairs are empty
    // there)
    val pair = Seq("NATION_18", "NATION_19")
    val n1 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"), revUnits.as("rev"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg((sum(col("rev")) / 10000.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }
  row("q_tpch_q7", qTpchQ7)(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate) AS l_year,
        |       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |         / 10000.0 AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |  AND n2.n_name IN ('NATION_18', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)

  /** TPC-H Q8 (national market share): the share of ASIA customers'
    * PROMO-part revenue supplied from NATION_19, per order year — the
    * conditional-share aggregate over the full dimensional join. The
    * share divides two exact integer unit sums, so it is engine-identical
    * with no rounding.
    */
  private def qTpchQ8(s: SparkSession, d: String): DataFrame = {
    val asiaN = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("ck"))
    val suppN = Tables.nation(s, d)
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        revUnits.as("rev"))
      .join(Tables.part(s, d).filter(col("p_type") === "PROMO")
          .select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaN), col("c_nationkey") === col("ck"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppN), col("s_nationkey") === col("sk"))
      .groupBy(col("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_19", col("rev")).otherwise(0L))
          .cast("double") / sum(col("rev"))).as("mkt_share"),
        count(lit(1)).as("n_rows"))
      .orderBy("o_year")
  }
  // q_tpch_q8/q13/q17: same joins and exact integer-unit revenue; the
  // q8 share and q17 threshold divide identical exact values
  row("q_tpch_q8", qTpchQ8)(
      """SELECT year(o_orderdate) AS o_year,
        |       CAST(SUM(CASE WHEN n1.n_name = 'NATION_19'
        |                     THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |                          (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
        |                     ELSE 0 END) AS DOUBLE) /
        |       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS mkt_share,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** TPC-H Q13 (customer distribution): the histogram of per-customer
    * order counts INCLUDING zero-order customers — the left-outer-join +
    * two-level-aggregate shape (count lands on the compact count domain;
    * customers with no orders survive the outer join as count 0).
    */
  private def qTpchQ13(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  row("q_tpch_q13", qTpchQ13)(
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)

  /** TPC-H Q15 (top supplier): the supplier(s) with the maximum revenue
    * over a quarter — the view + scalar-max-subquery shape: the revenue
    * "view" materializes as one per-supplier aggregate, its max attaches
    * back as a 1-row broadcast, and the winner filter is an exact
    * integer-unit equality (no float max ties to break).
    */
  private def qTpchQ15(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_suppkey"), revUnits.as("rev"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("rev")).as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(maxRev), col("total_rev") === col("max_rev"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("total_rev") / 10000.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }
  row("q_tpch_q15", qTpchQ15)(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev / 10000.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)

  /** DERIVED partsupp — the one TPC-H table this corpus does not ship.
    * Reconstructed deterministically from the OBSERVED part-supplier
    * relationships (distinct (l_partkey, l_suppkey) pairs — so every
    * lineitem row joins a partsupp row, the property Q9/Q20 need) with
    * hash-derived availqty and integer-cent supplycost; the oracle derives
    * the IDENTICAL table in SQL, so the five partsupp TPC-H queries are
    * fully differential despite the fixture gap (keys are non-negative, so
    * pmod and SQL's % agree). Write-once staged per directory (the
    * [[stagedDupPairs]] discipline): the distinct pair scan runs once per
    * corpus and the five consumers read the KB-scale artifact. At 100 TB
    * the distinct is one map-side-combinable shuffle on the pair key —
    * kept parallel by `repartition(1)` AFTER the distinct (NOT coalesce,
    * which would propagate to the reduce side and run the corpus-wide
    * dedup on one task); only the tiny deduped artifact write serializes.
    */
  private def partsuppDerived(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_partsupp/${dirTag(d)}/ps"
    stagedOnce(dir) {
      partsuppStaging(s, d).write.mode("overwrite").parquet(dir)
    }
    Tables.parquet(s, dir)
  }

  /** The partsupp staging plan, exposed for the PlanAuditSpec pin that the
    * corpus-wide (partkey, suppkey) distinct keeps a multi-partition
    * reduce side (hashpartitioning exchange) and only the post-dedup
    * artifact write serializes (round-robin repartition(1), NOT a
    * coalesce, which would collapse the distinct to one task).
    */
  private[graft] def partsuppStaging(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .select(col("ps_partkey"), col("ps_suppkey"),
        (lit(1L) + pmod(col("ps_partkey") * 37 + col("ps_suppkey") * 61,
          lit(9999L))).as("ps_availqty"),
        (lit(100L) + pmod(col("ps_partkey") * 31 + col("ps_suppkey") * 17,
          lit(99900L))).as("ps_supplycost_cents"))
      .repartition(1)

  /** TPC-H Q2 (minimum-cost supplier) on [[partsuppDerived]]: for each
    * STANDARD size-15 part, the cheapest EUROPE-region supplier. The
    * correlated min-cost subquery decorrelates into a per-part struct-MIN
    * (cost, suppkey) — the tie rule is part of the aggregate, so the
    * pick is deterministic in any engine. Output drops the columns this
    * corpus does not carry (address/phone/comment).
    */
  private def qTpchQ2(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select("p_partkey")
    val euroSup = Tables.supplier(s, d)
      .join(Tables.nation(s, d),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val cand = partsuppDerived(s, d)
      .join(parts, col("ps_partkey") === col("p_partkey"))
      .join(broadcast(euroSup), col("ps_suppkey") === col("s_suppkey"))
    val best = cand.groupBy(col("ps_partkey").as("bp"))
      .agg(min(struct(col("ps_supplycost_cents"), col("ps_suppkey")))
        .as("b"))
    cand
      .join(best, col("ps_partkey") === col("bp") &&
        struct(col("ps_supplycost_cents"), col("ps_suppkey")) === col("b"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("ps_partkey").as("p_partkey"), col("ps_supplycost_cents"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }
  // q_tpch_q2/9/11/16/20: the oracle derives the IDENTICAL partsupp
  // from the observed lineitem pairs (non-negative keys: % == pmod)
  row("q_tpch_q2", qTpchQ2)(
      """WITH ps AS (
        |  SELECT ps_partkey, ps_suppkey,
        |         1 + (ps_partkey * 37 + ps_suppkey * 61) % 9999 AS ps_availqty,
        |         100 + (ps_partkey * 31 + ps_suppkey * 17) % 99900
        |           AS ps_supplycost_cents
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
        |                        l_suppkey AS ps_suppkey FROM lineitem)
        |), parts AS (
        |  SELECT p_partkey FROM part
        |  WHERE p_size = 15 AND p_type = 'STANDARD'
        |), es AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |), cand AS (
        |  SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents,
        |         es.s_name, es.s_acctbal, es.n_name
        |  FROM ps
        |  JOIN parts ON ps_partkey = p_partkey
        |  JOIN es ON ps_suppkey = es.s_suppkey
        |), best AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY ps_partkey
        |           ORDER BY ps_supplycost_cents, ps_suppkey) AS rk
        |  FROM cand
        |)
        |SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey,
        |       ps_supplycost_cents
        |FROM best WHERE rk = 1
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)

  /** TPC-H Q9 (product-type profit) on [[partsuppDerived]]: profit by
    * supplier nation × order year over 'red' parts, accumulated entirely
    * in exact 1e-4 currency units (revUnits minus cost·qty scaled to the
    * same unit) — bigint-exact at any corpus size.
    */
  private def qTpchQ9(s: SparkSession, d: String): DataFrame = {
    val redParts = Tables.part(s, d)
      .filter(col("p_name").like("%red%")).select("p_partkey")
    val supNation = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        revUnits.as("rev"),
        round(col("l_quantity")).cast("long").as("qty"))
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(partsuppDerived(s, d),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum(col("rev") -
        col("ps_supplycost_cents") * 100L * col("qty")).as("profit_units"))
      .orderBy(col("nation"), col("o_year").desc)
  }
  row("q_tpch_q9", qTpchQ9)(
      """WITH ps AS (
        |  SELECT ps_partkey, ps_suppkey,
        |         100 + (ps_partkey * 31 + ps_suppkey * 17) % 99900
        |           AS ps_supplycost_cents
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
        |                        l_suppkey AS ps_suppkey FROM lineitem)
        |)
        |SELECT n_name AS nation,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) -
        |                ps_supplycost_cents * 100 *
        |                CAST(ROUND(l_quantity) AS BIGINT))
        |            AS BIGINT) AS profit_units
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)

  /** TPC-H Q11 (important stock) on [[partsuppDerived]]: per-part stock
    * value held by EUROPE-region suppliers, keeping parts whose value
    * exceeds TWICE the mean part value — the reference scales its
    * fraction by 1/SF precisely so the cut tracks the part count; tying
    * it to the count does the same at any scale, and the comparison is
    * integer-exact (value·n_parts > 2·total), never a double threshold.
    * The 1-row total attaches as a broadcast (allowlisted q_bm25 shape).
    */
  private def qTpchQ11(s: SparkSession, d: String): DataFrame = {
    val euroSup = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val value = partsuppDerived(s, d)
      .join(broadcast(euroSup), col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_supplycost_cents") * col("ps_availqty"))
        .as("value_cents"))
    val total = value.agg(sum(col("value_cents")).as("total_cents"),
      count(lit(1)).as("n_parts"))
    value.crossJoin(broadcast(total))
      .filter(col("value_cents") * col("n_parts") > lit(2L) * col("total_cents"))
      .select(col("ps_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("ps_partkey"))
  }
  row("q_tpch_q11", qTpchQ11)(
      """WITH ps AS (
        |  SELECT ps_partkey, ps_suppkey,
        |         1 + (ps_partkey * 37 + ps_suppkey * 61) % 9999 AS ps_availqty,
        |         100 + (ps_partkey * 31 + ps_suppkey * 17) % 99900
        |           AS ps_supplycost_cents
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
        |                        l_suppkey AS ps_suppkey FROM lineitem)
        |), es AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |), v AS (
        |  SELECT ps_partkey,
        |         CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT)
        |           AS value_cents
        |  FROM ps JOIN es ON ps_suppkey = s_suppkey
        |  GROUP BY ps_partkey
        |)
        |SELECT ps_partkey, value_cents FROM v
        |WHERE value_cents * (SELECT COUNT(*) FROM v) >
        |      2 * (SELECT SUM(value_cents) FROM v)
        |ORDER BY value_cents DESC, ps_partkey""".stripMargin)

  /** TPC-H Q16 (parts/supplier relationship) on [[partsuppDerived]]:
    * supplier counts per (brand, type, size) over a brand/type/size
    * screen. The reference's complaint-comment supplier exclusion is
    * adapted to the deterministic negative-balance rule (this corpus
    * ships no s_comment) — stated, not silent.
    */
  private def qTpchQ16(s: SparkSession, d: String): DataFrame = {
    val screened = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val excluded = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    partsuppDerived(s, d)
      .join(screened, col("ps_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("ps_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"),
        col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }
  row("q_tpch_q16", qTpchQ16)(
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |  FROM lineitem
        |)
        |SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps
        |JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND ps_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)

  /** TPC-H Q20 (potential excess stock) on [[partsuppDerived]]:
    * suppliers holding more than half a year's shipped quantity of some
    * 'red' part — `2·availqty > Σqty(1996)` as an exact integer
    * comparison; pairs with no 1996 shipments drop via the inner join,
    * matching the reference's NULL-false subquery comparison.
    */
  private def qTpchQ20(s: SparkSession, d: String): DataFrame = {
    val redParts = Tables.part(s, d)
      .filter(col("p_name").like("%red%")).select("p_partkey")
    val qty96 = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty"))
    partsuppDerived(s, d)
      .join(redParts, col("ps_partkey") === col("p_partkey"))
      .join(qty96, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") * 2L > col("qty"))
      .select(col("ps_suppkey")).distinct()
      .join(Tables.supplier(s, d), col("ps_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }
  row("q_tpch_q20", qTpchQ20)(
      """WITH ps AS (
        |  SELECT ps_partkey, ps_suppkey,
        |         1 + (ps_partkey * 37 + ps_suppkey * 61) % 9999 AS ps_availqty
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
        |                        l_suppkey AS ps_suppkey FROM lineitem)
        |), q96 AS (
        |  SELECT l_partkey, l_suppkey,
        |         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2
        |)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM ps
        |JOIN part ON ps_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN q96 ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |JOIN supplier ON ps_suppkey = s_suppkey
        |WHERE ps_availqty * 2 > qty
        |ORDER BY s_suppkey""".stripMargin)

  /** TPC-H Q17 (small-quantity-order revenue): Brand#1 lines whose
    * quantity is under half their PART's average quantity — the
    * correlated-aggregate-subquery shape, decorrelated into a per-part
    * average joined back on the part key (two lineitem scans, one
    * partkey shuffle each; the quantity average is exact — whole-number
    * doubles summed then divided identically in both engines).
    */
  private def qTpchQ17(s: SparkSession, d: String): DataFrame = {
    val avgQ = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("ap"))
      .agg(avg(col("l_quantity")).as("aq"))
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), revUnits.as("rev"))
      .join(Tables.part(s, d).filter(col("p_brand") === "Brand#1")
          .select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < lit(0.5) * col("aq"))
      .agg(
        (sum(col("rev")) / 10000.0).as("revenue"),
        count(lit(1)).as("n_rows"))
  }
  row("q_tpch_q17", qTpchQ17)(
      """WITH a AS (SELECT l_partkey AS ap, AVG(l_quantity) AS aq
        |           FROM lineitem GROUP BY 1)
        |SELECT SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |         / 10000.0 AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem l
        |JOIN part ON l.l_partkey = p_partkey AND p_brand = 'Brand#1'
        |JOIN a ON l.l_partkey = a.ap
        |WHERE l.l_quantity < 0.5 * a.aq""".stripMargin)

  /** TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    * lost to returns in 1996-Q1. Output reduced to the columns this
    * corpus carries (no address/phone/comment).
    */
  private def qTpchQ10(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revUnits.as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg((sum(col("rev")) / 10000.0).as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
  }
  row("q_tpch_q10", qTpchQ10)(
      """SELECT c_custkey, c_name, revenue, c_acctbal, n_name FROM (
        |  SELECT c_custkey, c_name, c_acctbal, n_name,
        |         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |           / 10000.0 AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1, 2, 3, 4)
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  /** TPC-H Q14 (promotion effect): the share of September-1996 revenue
    * from PROMO parts — filter-join-aggregate to ONE row. p_type here is
    * a single word, so the predicate is equality, not LIKE 'PROMO%'.
    */
  private def qTpchQ14(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .select(col("l_partkey"), revUnits.as("rev"))
      .join(Tables.part(s, d).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0L)) /
          sum(col("rev"))).as("promo_revenue_pct"),
        count(lit(1)).as("n_rows"))
  row("q_tpch_q14", qTpchQ14)(
      """SELECT 100.0 *
        |         SUM(CASE WHEN p_type = 'PROMO'
        |                  THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |                       (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
        |                  ELSE 0 END) /
        |         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |         AS promo_revenue_pct,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin)

  /** TPC-H Q19 (discounted revenue, disjunctive predicates): three
    * brand×quantity-band arms OR-ed together — the shape that exercises
    * predicate pushdown under disjunction (the l_quantity bounds are
    * per-arm, so only the DOMAIN hull `quantity between 1 and 35` can
    * prune the scan; the full disjunction evaluates post-join). One
    * PK-FK join against part; revenue in exact integer units.
    */
  private def qTpchQ19(s: SparkSession, d: String): DataFrame = {
    val arms =
      (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 35))
    Tables.lineitem(s, d)
      // domain hull of the three arms — prunable at the scan even though
      // the disjunction itself is not
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 35)
      .select(col("l_partkey"), col("l_quantity"), revUnits.as("rev"))
      .join(Tables.part(s, d).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .filter(arms)
      .agg(
        (sum(col("rev")) / 10000.0).as("revenue"),
        count(lit(1)).as("n_rows"))
  }
  row("q_tpch_q19", qTpchQ19)(
      """SELECT SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
        |         / 10000.0 AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 35)""".stripMargin)

  /** TPC-H Q18 (large-volume customers): orders whose total quantity
    * exceeds 300, with their customer — the classic
    * aggregate-then-join-back shape: the HAVING filter reduces lineitem
    * to a tiny order set BEFORE any wide join, so the orders/customer
    * joins probe with the survivors only. Quantities are whole numbers
    * in doubles, so the >300 cut is exact in both engines; o_totalprice
    * is stored data, not a float computation.
    */
  private def qTpchQ18(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300.0)
      .join(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(100)
  row("q_tpch_q18", qTpchQ18)(
      """WITH big AS (
        |  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300.0)
        |SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)

  /** TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    * reduced schema: the commit/receipt lateness test becomes the Q4
    * ship-after-order adaptation (`l_shipdate > o_orderdate`; the fixture
    * has no commit/receipt dates). A supplier "kept an order waiting"
    * when, in a finished ('F') multi-supplier order, it is the ONLY
    * supplier with a late line. The classic correlated EXISTS/NOT-EXISTS
    * pair is DECORRELATED into one per-(order, supplier) lateness
    * aggregate plus an order-partitioned window: `n_supp > 1` realizes
    * EXISTS(other supplier), `n_late = 1` realizes NOT EXISTS(other late
    * supplier) given the probe supplier is itself late. The plan is one
    * map-side-combinable aggregate, one key-partitioned window on the
    * already-reduced (order, supplier) rows, one supplier-keyed count,
    * and a broadcast supplier attach — no subquery re-execution per line.
    * `numwait` counts DISTINCT waiting orders (the per-order grain makes
    * the count independent of how many late lines the supplier had in
    * one order); the DuckDB oracle keeps the literal EXISTS/NOT-EXISTS
    * formulation, so the decorrelation itself is what the differential
    * oracle checks (reference discipline: `host/join/join_test.cc:27-38`).
    */
  private def qTpchQ21(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val perOrderSupp = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_shipdate") > col("o_orderdate"), 1L)
        .otherwise(0L)).as("late"))
    val w = Window.partitionBy("l_orderkey")
    perOrderSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum(col("late")).over(w))
      .filter(col("late") === 1L && col("n_supp") > 1 && col("n_late") === 1L)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(100)
  }
  row("q_tpch_q21", qTpchQ21)(
      """SELECT s_name, numwait FROM (
        |  SELECT w.l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait FROM (
        |    SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |    FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |    WHERE o.o_orderstatus = 'F'
        |      AND l1.l_shipdate > o.o_orderdate
        |      AND EXISTS (SELECT 1 FROM lineitem l2
        |                  WHERE l2.l_orderkey = l1.l_orderkey
        |                    AND l2.l_suppkey <> l1.l_suppkey)
        |      AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                      WHERE l3.l_orderkey = l1.l_orderkey
        |                        AND l3.l_suppkey <> l1.l_suppkey
        |                        AND l3.l_shipdate > o.o_orderdate)
        |  ) w GROUP BY w.l_suppkey
        |) c JOIN supplier ON s_suppkey = c.l_suppkey
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)

  /** TPC-H Q12 (shipping-mode / order-priority split), adapted: the
    * reduced schema carries no l_shipmode / l_commitdate / l_receiptdate,
    * so the mode dimension is `l_returnflag` and "late delivery" is the
    * Q4/Q21 ship-after-order lateness, here > 30 days past the order date
    * (reference discipline: differential oracle, `host/join/
    * join_test.cc:27-38`). Per flag, 1996-shipped late lines split into
    * high-priority (1-URGENT / 2-HIGH) vs low-priority counts — the
    * canonical conditional two-counter aggregate. ONE equi-shuffle join
    * carries the priority column onto the lines (AQE broadcasts the
    * pruned orders side when it fits); the year filter is pushed to the
    * lineitem scan and both counters are map-side partials, so the only
    * row movement is the join itself.
    */
  private def qTpchQ12(s: SparkSession, d: String): DataFrame = {
    val high = Seq("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin(high: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin(high: _*), 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy("l_returnflag")
  }
  row("q_tpch_q12", qTpchQ12)(
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** TPC-H Q22 (global sales opportunity), adapted: no `c_phone`, so the
    * country code is `c_nationkey % 10` restricted to the odd codes, and
    * "customers with no orders" — empty in this fixture, every customer
    * has ordered — becomes the equivalent DORMANT-customer anti-join (no
    * order since 2000-01-01). Keeps Q22's whole shape: an uncorrelated
    * scalar subquery (mean positive balance) gating the probe side, a
    * NOT-EXISTS anti-join against orders, and the country-code rollup.
    * Money is exact integer cents end to end with ONE double division at
    * the end. Scale: the average is a 1-row broadcast attach (no
    * re-execution per row), the anti-join is an equi-keyed LEFT ANTI on
    * the customer key (shuffle- or broadcast-hash, never quadratic), and
    * the date predicate prunes the orders side at the scan.
    */
  private def qTpchQ22(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"),
        (col("c_nationkey") % 10).cast("long").as("cntrycode"),
        round(col("c_acctbal") * 100).cast("long").as("bal_u2"))
      .filter(col("cntrycode").isin(1L, 3L, 5L, 7L, 9L))
    val avgBal = cust.filter(col("bal_u2") > 0L)
      .agg((sum(col("bal_u2")).cast("double") / count(lit(1)))
        .as("__avg_u2"))
      .withColumn("one", lit(1))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    cust
      .withColumn("one", lit(1))
      .join(broadcast(avgBal), "one")
      .filter(col("bal_u2").cast("double") > col("__avg_u2"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(
        count(lit(1)).as("numcust"),
        (sum(col("bal_u2")).cast("double") / 100.0).as("totacctbal"))
      .orderBy("cntrycode")
  }
  // q_tpch_q22 adapted: cntrycode = nationkey % 10 (odd codes), dormant
  // = no order since 2000-01-01; money exact cents, one final division
  row("q_tpch_q22", qTpchQ22)(
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey % 10 AS cntrycode,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_u2
        |  FROM customer WHERE (c_nationkey % 10) IN (1, 3, 5, 7, 9)
        |), a AS (
        |  SELECT CAST(SUM(bal_u2) AS DOUBLE) / COUNT(*) AS avg_u2
        |  FROM cust WHERE bal_u2 > 0
        |)
        |SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |       CAST(SUM(bal_u2) AS DOUBLE) / 100.0 AS totacctbal
        |FROM cust, a
        |WHERE CAST(bal_u2 AS DOUBLE) > avg_u2
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = cust.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
