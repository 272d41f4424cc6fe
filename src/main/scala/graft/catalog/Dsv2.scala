package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.catalog.Support._

/** DataSource V2 rows over the staging connector (`graft.sources.v2`):
  * pushdown, writes, merge-on-read, change feeds, snapshots, catalog.
  */
object Dsv2 extends Family {

  /** Custom DataSourceV2 READ path as a catalog row
    * ([[graft.sources.v2.SeqSource]] — the connector seam itself): a
    * range predicate on `id` and a 2-column projection run against the
    * synthetic source, and the SOURCE must do the work — the id filters
    * fold into the generated range (no residual FilterExec re-checks
    * them, no out-of-range row is ever materialized), the projection
    * prunes to the requested columns, post-pushdown statistics feed the
    * planner, and the surviving range splits into 8 input partitions.
    * PlanAuditSpec pins the folded range + pruned column list in the
    * scan description. The mod7 predicate is deliberately NOT consumable
    * by the source — it must survive as the plan's only row-level
    * filter, pinning the residual-filter contract. The oracle recomputes
    * the row formula arithmetically over generate_series.
    */
  private def qDsv2Source(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.v2.SeqSource")
      .option("n", 1000000L).option("slices", 8).load()
      .filter(col("id") >= 250000L && col("id") < 750000L &&
        col("mod7") =!= 3L)
      .groupBy(col("mod7"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("mod7")
  // q_dsv2_source: the synthetic source's row formula replayed
  // arithmetically over the same pushed-down range
  row("q_dsv2_source", qDsv2Source)(
      """SELECT CAST(id % 7 AS BIGINT) AS mod7,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM((id * 37) % 10000) AS BIGINT) AS sum_cents
        |FROM (SELECT range AS id FROM range(250000, 750000))
        |WHERE id % 7 <> 3
        |GROUP BY 1 ORDER BY mod7""".stripMargin)

  /** DSv2 AGGREGATE pushdown ([[graft.sources.v2.SeqSource]] again, one
    * seam deeper than [[qDsv2Source]]): COUNT(*)/SUM/MIN/MAX over the id
    * range push INTO the source, which answers them in closed form —
    * count = hi−lo, the arithmetic series for sum, the range ends for
    * min/max — without generating a single data row. Complete pushdown:
    * the plan contains NO aggregate operator, just a project over the
    * 1-row scan (PlanAuditSpec pins the `SeqAggScan` description and the
    * absence of HashAggregate). This is what a 100 TB source does with
    * its zone-map/footer statistics: a full-table COUNT/MIN/MAX is a
    * metadata read, not a scan. Aggregates the source has no closed form
    * for (mod7, cents) are DECLINED and fall back to the row path — the
    * decline leg of the contract. The oracle replays the same aggregates
    * over generate_series.
    */
  private def qDsv2AggPushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.v2.SeqSource")
      .option("n", 1000000L).option("slices", 8).load()
      .filter(col("id") >= 100000L && col("id") < 900000L)
      .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("sum_id"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
  // q_dsv2_agg_pushdown: the closed forms replayed by brute force
  row("q_dsv2_agg_pushdown", qDsv2AggPushdown)(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(id) AS BIGINT) AS sum_id,
        |       CAST(MIN(id) AS BIGINT) AS min_id,
        |       CAST(MAX(id) AS BIGINT) AS max_id
        |FROM (SELECT range AS id FROM range(100000, 900000))""".stripMargin)

  /** DSv2 TopN pushdown (the third connector leg):
    * `ORDER BY id DESC LIMIT 5` pushes COMPLETELY into the source — the
    * sequence is totally ordered by id, so the top-5 is the last 5 of
    * the filter-folded range, answered by range arithmetic and emitted
    * in order from one partition. The plan keeps NO Sort, TakeOrdered or
    * Limit operator (PlanAuditSpec pins the `ordered=desc` 5-row range
    * in the scan description and the operators' absence); TopN on a
    * non-monotone column (mod7/cents) is DECLINED and falls back to
    * Spark's TakeOrdered — the decline leg. At 100 TB this is "give me
    * the newest k records" answered from source order metadata instead
    * of a full scan + global top-k. LIMIT/OFFSET pushdown ride the same
    * range arithmetic ([[graft.sources.v2.SeqScanBuilder]]).
    */
  private def qDsv2TopN(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.v2.SeqSource")
      .option("n", 1000000L).option("slices", 8).load()
      .filter(col("id") >= 100000L && col("id") < 900000L)
      .orderBy(col("id").desc)
      .limit(5)
      .select(col("id"), col("cents"))
  // q_dsv2_topn: the pushed top-5 replayed by brute force
  row("q_dsv2_topn", qDsv2TopN)(
      """SELECT CAST(id AS BIGINT) AS id,
        |       CAST((id * 37) % 10000 AS BIGINT) AS cents
        |FROM (SELECT range AS id FROM range(100000, 900000))
        |ORDER BY id DESC LIMIT 5""".stripMargin)

  /** RUNTIME filtering into the custom source (r14 verdict #4 —
    * [[graft.sources.v2.SeqScan]]'s [[
    * org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]
    * leg, the connector analog of the parquet path's DPP row): the fact
    * side is the synthetic source's FULL million-row domain, the dim side
    * is a selectively-filtered orders slice, and at runtime Spark
    * evaluates the dim's join keys first and hands them to the scan as an
    * IN predicate — the scan narrows its id range and PRUNES the grid
    * cells outside it before generating a single fact row (32 static
    * slices → 1 surviving, pinned via the scan description's
    * `runtime=`/`parts=` fields in PlanAuditSpec). The join still
    * verifies every surviving row, so min/max narrowing (the zone-map
    * discipline) is sufficient, never wrong. At 100 TB this is "the dim
    * filter decides which fact files are opened".
    *
    * The dim's selective predicate is deliberately NOT on the join key:
    * a key predicate (`o_orderkey < 500`) is propagated onto the fact
    * side STATICALLY by constraint inference and folds into the scan
    * range at plan time — real work for the pushdown leg, but it leaves
    * the runtime filter trivially true. A non-key predicate (priority)
    * cannot be inferred across the join, so the id bound exists only in
    * the dim's runtime key set — exactly the case runtime filtering is
    * for.
    */
  private def qDsv2RuntimeFilter(s: SparkSession, d: String): DataFrame = {
    val fact = s.read.format("graft.sources.v2.SeqSource")
      .option("n", 1000000L).option("slices", 32).load()
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("id"), col("o_totalprice"))
    fact.join(dim, "id")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("mod7")).as("sum_mod7"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
  }
  // q_dsv2_runtime_filter: the fact side's row formula (mod7 = id % 7)
  // replayed over the dim keys alone — if runtime narrowing ever
  // DROPPED a matching row, the counts would split
  row("q_dsv2_runtime_filter", qDsv2RuntimeFilter)(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(o_orderkey % 7) AS BIGINT) AS sum_mod7,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin)

  /** DSv2 WRITE path ([[graft.sources.v2.StageSource]] — r14 verdict #3,
    * the connector seam's other half, the reference's first-class sink
    * node `host/filter/filter_native.cc:64-66`): an aggregate is written
    * THROUGH the custom connector (SupportsWrite/BatchWrite with the
    * two-phase task/job commit a 1000-executor write needs — unique
    * per-attempt temp files, job-commit move, `_SUCCESS` marker last,
    * truncate-on-overwrite deferred to commit so a failed overwrite never
    * destroys the previous snapshot) and read back through the
    * connector's scan. Integral cent sums keep the oracle portable.
    * PlanAuditSpec pins the V2 write node (OverwriteByExpression) and the
    * commit layout.
    */
  private def qDsv2Write(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft_dsv2w/${dirTag(d)}/flagstats"
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
      .write.format("graft.sources.v2.StageSource")
      .option("path", root).mode("overwrite").save()
    s.read.format("graft.sources.v2.StageSource").option("path", root).load()
      .orderBy("flag")
  }
  // q_dsv2_write: the content that went THROUGH the connector write and
  // came back through its scan, recomputed straight from lineitem
  row("q_dsv2_write", qDsv2Write)(
      """SELECT l_returnflag AS flag,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS price_cents
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin)

  /** MERGE-INTO-shaped upsert THROUGH the DSv2 write path (r14 verdict
    * #8): a base snapshot is written via the connector, a delta (updated
    * cents + literal status for an overlapping key range, plus brand-new
    * keys) is merged with delta-wins semantics — full-outer join on the
    * key, COALESCE preferring the delta side, exactly what `MERGE INTO
    * ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT` resolves to — and
    * the merged snapshot is written via the connector AGAIN (a NEW
    * snapshot directory: the read of the old snapshot is lazy, so
    * overwriting in place would race the files being read; snapshot-in,
    * snapshot-out is also how table formats express merges). The final
    * state is read back through the connector and oracled against the
    * same upsert in SQL.
    */
  private def qDsv2Upsert(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val baseRoot = s"/tmp/graft_dsv2w/$tag/upsert_base"
    val outRoot = s"/tmp/graft_dsv2w/$tag/upsert_out"
    val orders = Tables.orders(s, d)
    val base = orders.filter(col("o_orderkey") < 400)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    base.write.format("graft.sources.v2.StageSource")
      .option("path", baseRoot).mode("overwrite").save()
    val delta = orders
      .filter(col("o_orderkey") >= 200 && col("o_orderkey") < 600)
      .select(col("o_orderkey").as("k"), lit("U").as("status"),
        (round(col("o_totalprice") * 100).cast("long") + 7).as("cents"))
    val baseBack = s.read.format("graft.sources.v2.StageSource")
      .option("path", baseRoot).load()
    baseBack.as("b")
      .join(delta.as("d"), col("b.k") === col("d.k"), "full_outer")
      .select(
        coalesce(col("d.k"), col("b.k")).as("k"),
        coalesce(col("d.status"), col("b.status")).as("status"),
        coalesce(col("d.cents"), col("b.cents")).as("cents"))
      .write.format("graft.sources.v2.StageSource")
      .option("path", outRoot).mode("overwrite").save()
    s.read.format("graft.sources.v2.StageSource").option("path", outRoot).load()
      .orderBy("k")
  }
  // q_dsv2_upsert: the delta-wins merge replayed as a full join over
  // the same base/delta slices of orders
  row("q_dsv2_upsert", qDsv2Upsert)(
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey < 400),
        |delta AS (
        |  SELECT o_orderkey AS k, 'U' AS status,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) + 7 AS cents
        |  FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 600)
        |SELECT COALESCE(d.k, b.k) AS k,
        |       COALESCE(d.status, b.status) AS status,
        |       COALESCE(d.cents, b.cents) AS cents
        |FROM base b FULL JOIN delta d ON b.k = d.k
        |ORDER BY k""".stripMargin)

  // q_dsv2_merge: the three-leg MERGE replayed as a full-outer join —
  // matched rows take the source's cents with status 'U', unmatched
  // source rows insert as 'N', and unmatched target rows below k=100
  // are deleted (the not-matched-by-source sync leg)
  private val dsv2MergeOracle: String =
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey < 400),
        |src AS (
        |  SELECT o_orderkey AS k,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) + 7 AS cents
        |  FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 600)
        |SELECT COALESCE(s.k, b.k) AS k,
        |       CASE WHEN s.k IS NOT NULL AND b.k IS NOT NULL THEN 'U'
        |            WHEN s.k IS NOT NULL THEN 'N'
        |            ELSE b.status END AS status,
        |       COALESCE(s.cents, b.cents) AS cents
        |FROM base b FULL JOIN src s ON b.k = s.k
        |WHERE NOT (s.k IS NULL AND b.k < 100)
        |ORDER BY k""".stripMargin

  /** SQL `MERGE INTO` through the connector's row-level-operation seam
    * ([[graft.sources.v2.StageRowLevelOperation]], Spark's GROUP-BASED
    * copy-on-write contract — the statement [[qDsv2Upsert]] spells as an
    * explicit full-outer join, now planned by Spark's
    * RewriteMergeIntoTable): the operation's scan plans the affected
    * files (zone maps prune provably-clean groups, which are carried
    * over without rewrite), the rewrite computes those groups'
    * post-image, and job commit swaps `previous − scanned + rewritten`
    * as one new snapshot. All three MERGE legs run: matched-update,
    * not-matched-insert, and not-matched-by-source delete (the sync
    * idiom). At 100 TB this is THE daily upsert surface — one statement,
    * snapshot-isolated, file-grain rewrite cost.
    */
  private def qDsv2Merge(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_merge"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t AS
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM $v WHERE o_orderkey < 400""")
    val src = s"graft_merge_src_${dirTag(d)}"
    s.sql(s"""SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) + 7 AS cents
      FROM $v WHERE o_orderkey >= 200 AND o_orderkey < 600""")
      .createOrReplaceTempView(src)
    s.sql(s"""MERGE INTO $t t USING $src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET status = 'U', cents = s.cents
      WHEN NOT MATCHED THEN INSERT (k, status, cents) VALUES (s.k, 'N', s.cents)
      WHEN NOT MATCHED BY SOURCE AND t.k < 100 THEN DELETE""")
    s.sql(s"SELECT k, status, cents FROM $t ORDER BY k")
  }
  row("q_dsv2_merge", qDsv2Merge)(dsv2MergeOracle)

  /** SQL `UPDATE` through the same copy-on-write seam as [[qDsv2Merge]]
    * (`RewriteUpdateTable` → ReplaceData): a price correction applied to
    * ONE status class, in place, as one new snapshot — the zone-map-
    * pruned groups (files provably holding no 'F' rows, when the layout
    * separates them) carry over without rewrite. Also runs a row-level
    * DELETE on a NON-partition predicate (the path the takedown's
    * metadata fast path declines), so all three rewrite commands are
    * driver-oracled. The readback aggregates per status, replayed in
    * DuckDB with the correction + deletion applied arithmetically.
    */
  private def qDsv2Update(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_upd"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t AS
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM $v WHERE o_orderkey < 2000""")
    s.sql(s"UPDATE $t SET cents = cents + 9 WHERE status = 'F'")
    s.sql(s"DELETE FROM $t WHERE k % 10 = 3") // non-partition row-level
    s.sql(s"""SELECT status, COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM $t GROUP BY status ORDER BY status""")
  }
  // q_dsv2_update: the per-status correction + row-level delete
  // replayed arithmetically
  row("q_dsv2_update", qDsv2Update)(
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |             + CASE WHEN o_orderstatus = 'F' THEN 9 ELSE 0 END)
        |            AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderkey % 10 <> 3
        |GROUP BY status ORDER BY status""".stripMargin)

  /** STORAGE-PARTITIONED join through the DSv2 connector
    * ([[graft.sources.v2.SeqSource]] `keyed` mode — the connector
    * generalization of [[qBucketedJoin]]'s co-located story, the
    * reference's partitioned-join mode `host/join/join_native.cc:94-111`
    * expressed as a connector LAYOUT contract): both sides declare
    * `KeyGroupedPartitioning(identity(mod7))` with [[
    * org.apache.spark.sql.connector.read.HasPartitionKey]] partitions, so
    * with `spark.sql.sources.v2.bucketing.enabled` the per-side GROUP BY
    * mod7 aggregates AND the join between them plan with ZERO shuffle
    * exchanges — Spark lines the residue-class partitions up
    * one-to-one (PlanAuditSpec pins no-ShuffleExchange and the
    * `keyed=mod7` scan descriptions). This is how Iceberg/Delta
    * bucket-partitioned tables join at 100 TB: the layout is written
    * once, declared by the connector, and every downstream join/agg on
    * the partition key rides it for free. The merge-join hint keeps the
    * tiny post-aggregate sides from broadcasting so the row exercises
    * the partition-aligned path end to end.
    */
  private def qDsv2Spj(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "true")
    try {
      def keyedSeq(n: Long) = s.read.format("graft.sources.v2.SeqSource")
        .option("n", n).option("keyed", true).load()
      val left = keyedSeq(1000000L)
        .filter(col("id") < 700000L)
        .groupBy(col("mod7"))
        .agg(count(lit(1)).as("l_rows"), sum(col("cents")).as("l_cents"))
      val right = keyedSeq(500000L)
        .groupBy(col("mod7"))
        .agg(count(lit(1)).as("r_rows"))
      val out = left.hint("merge").join(right, "mod7")
        .select(col("mod7"), col("l_rows"), col("l_cents"), col("r_rows"))
        .orderBy("mod7")
      // planning is lazy and reads SQLConf at plan time — force it while
      // the conf override is live (QueryExecution caches the result)
      out.queryExecution.executedPlan
      out
    } finally s.conf.set(key, prev)
  }
  // q_dsv2_spj: the storage-partitioned join's content replayed
  // arithmetically — both keyed sides aggregated over generate_series
  // and joined on the residue class
  row("q_dsv2_spj", qDsv2Spj)(
      """WITH l AS (
        |  SELECT id % 7 AS mod7,
        |         CAST(COUNT(*) AS BIGINT) AS l_rows,
        |         CAST(SUM((id * 37) % 10000) AS BIGINT) AS l_cents
        |  FROM (SELECT range AS id FROM range(0, 700000)) GROUP BY 1),
        |r AS (
        |  SELECT id % 7 AS mod7, CAST(COUNT(*) AS BIGINT) AS r_rows
        |  FROM (SELECT range AS id FROM range(0, 500000)) GROUP BY 1)
        |SELECT CAST(l.mod7 AS BIGINT) AS mod7, l_rows, l_cents, r_rows
        |FROM l JOIN r ON l.mod7 = r.mod7
        |ORDER BY mod7""".stripMargin)

  /** Storage-partitioned join over REAL STAGED DATA (r16 verdict #3 —
    * [[qDsv2Spj]] demonstrates the contract on the synthetic keyed
    * source; this row closes the loop on the staging connector's own
    * committed files): orders and lineitem are staged through
    * [[graft.sources.v2.StageSource]] identity-partitioned by the same
    * bucket key (the write's required clustering lands each bucket
    * wholly in its own committed file), the scans REPORT that layout
    * (`KeyGroupedPartitioning` + per-file `HasPartitionKey`), and with
    * v2 bucketing enabled the per-side GROUP BY b aggregations and the
    * join between them plan with ZERO shuffle exchanges — Spark groups
    * same-key files (appends produce several per bucket) and lines the
    * two tables' buckets up one-to-one (PlanAuditSpec pins
    * no-hashpartitioning over the two StageScans). At 100 TB this is
    * the write-once/join-free discipline of co-bucketed Iceberg/Delta
    * tables, now end to end on this connector's own format.
    */
  private def qDsv2SpjStaged(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val fmt = "graft.sources.v2.StageSource"
    val ordDir = s"/tmp/graft_dsv2w/$tag/spj_ord"
    val liDir = s"/tmp/graft_dsv2w/$tag/spj_li"
    // WRITE-ONCE fixture (r17 verdict #6: the row used to re-stage both
    // tables every run, so its bench number measured staging writes —
    // slope 3.10× at ×10 — not the exchange-free join it claims; the
    // staging write path keeps its own rows, q_dsv2_write /
    // q_dsv2_lineage / q_dsv2_catalog). Same discipline as the IVF index
    // artifact: guard on the connector's own _SUCCESS marker, serialize
    // same-JVM builders on the per-directory lock.
    stagedOnce(ordDir) {
      Tables.orders(s, d)
        .select((col("o_orderkey") % 8).as("b"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.format(fmt).option("path", ordDir)
        .option("partition_by", "b").mode("overwrite").save()
    }
    stagedOnce(liDir) {
      Tables.lineitem(s, d)
        .select((col("l_orderkey") % 8).as("b"),
          col("l_quantity").cast("long").as("qty"))
        .write.format(fmt).option("path", liDir)
        .option("partition_by", "b").mode("overwrite").save()
    }
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "true")
    try {
      val o = s.read.format(fmt).option("path", ordDir).load()
        .groupBy("b")
        .agg(count(lit(1)).as("n_ord"), sum("cents").as("ord_cents"))
      val l = s.read.format(fmt).option("path", liDir).load()
        .groupBy("b")
        .agg(count(lit(1)).as("n_li"), sum("qty").as("qty_sum"))
      val out = o.hint("merge").join(l, "b")
        .select(col("b"), col("n_ord"), col("ord_cents"),
          col("n_li"), col("qty_sum"))
        .orderBy("b")
      // planning is lazy and reads SQLConf at plan time — force it while
      // the conf override is live
      out.queryExecution.executedPlan
      out
    } finally s.conf.set(key, prev)
  }
  // q_dsv2_spj_staged: the staged co-bucketed join's content replayed
  // straight from orders/lineitem — the staging must be a pure layout
  // decision, never a data transformation
  row("q_dsv2_spj_staged", qDsv2SpjStaged)(
      """WITH o AS (
        |  SELECT o_orderkey % 8 AS b,
        |         CAST(COUNT(*) AS BIGINT) AS n_ord,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS ord_cents
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT l_orderkey % 8 AS b,
        |         CAST(COUNT(*) AS BIGINT) AS n_li,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(o.b AS BIGINT) AS b, n_ord, ord_cents, n_li, qty_sum
        |FROM o JOIN l ON o.b = l.b
        |ORDER BY b""".stripMargin)

  /** Schema EVOLUTION through the catalog ([[graft.sources.v2
    * .StageCatalog]]'s append-only `ALTER TABLE … ADD COLUMNS`, the
    * reference's one evolution primitive — its generator grows tables by
    * appending columns, `generator.cc:32-44`, `join_dpu.cc:356-360`):
    * rows staged under the OLD schema are never rewritten — the
    * connector records each file's stored column count and the reader
    * null-fills the evolved tail — while rows staged after the ALTER
    * carry the new column. The mixed-schema read-back is oracled against
    * the same shape computed straight from orders (NULL priority for the
    * pre-alter keys). At 100 TB this is the only affordable ADD COLUMN:
    * a metadata-only change, zero bytes rewritten.
    */
  private def qDsv2AddColumn(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_evolve"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t AS
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM $v WHERE o_orderkey < 300""")
    s.sql(s"ALTER TABLE $t ADD COLUMNS (prio STRING)")
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT),
             o_orderpriority
      FROM $v WHERE o_orderkey >= 300 AND o_orderkey < 600""")
    s.sql(s"SELECT k, cents, prio FROM $t ORDER BY k")
  }
  // q_dsv2_add_column: the mixed-schema read after an append-only ADD
  // COLUMN — pre-alter rows null-fill, post-alter rows carry the value
  row("q_dsv2_add_column", qDsv2AddColumn)(
      """SELECT o_orderkey AS k,
        |       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |       CASE WHEN o_orderkey >= 300 THEN o_orderpriority
        |            ELSE NULL END AS prio
        |FROM orders WHERE o_orderkey < 600
        |ORDER BY k""".stripMargin)

  /** MERGE-ON-READ delete ([[graft.sources.v2.StageDeltaDeleteOperation]],
    * Iceberg's positional-delete contract, r16 verdict #4): the table
    * opts in with `delete.mode=merge-on-read`, a selective `DELETE`
    * records (file, row-ordinal) DELETE VECTORS in the next manifest —
    * zero data bytes rewritten (spec-pinned: the data file set is
    * byte-identical before and after) — and every read applies the
    * vectors. At 100 TB this is what makes a row-level takedown
    * affordable: copy-on-write pays gigabytes of rewrite per touched
    * file; merge-on-read pays bytes proportional to the deleted rows and
    * compaction repays the read debt lazily, off the critical path. The
    * read-back aggregate is oracled against orders minus the deleted
    * keys.
    */
  private def qDsv2MorDelete(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_mor"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT)
      TBLPROPERTIES ('delete.mode'='merge-on-read')""")
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE o_orderkey < 2000""")
    s.sql(s"DELETE FROM $t WHERE k % 7 = 2") // non-partition row-level
    s.sql(s"""SELECT status, COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM $t GROUP BY status ORDER BY status""")
  }
  // q_dsv2_mor_delete: the vector delete replayed arithmetically —
  // orders under 2000 minus the k % 7 = 2 keys
  row("q_dsv2_mor_delete", qDsv2MorDelete)(
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderkey % 7 <> 2
        |GROUP BY status ORDER BY status""".stripMargin)

  /** MERGE-ON-READ for the WRITE-HEAVY commands ([[graft.sources.v2
    * .StageDeltaOperation]] with `representUpdateAsDeleteAndInsert` —
    * Iceberg's MOR update/merge): the same three-leg MERGE as
    * [[qDsv2Merge]] but on a table whose `update.mode`/`merge.mode` are
    * merge-on-read, so the matched-update leg writes delete vectors for
    * the old images plus a small insert file — pre-existing data files
    * are NEVER rewritten (spec-pinned) — and the not-matched-by-source
    * delete leg writes vectors only. Same oracle arithmetic as the
    * copy-on-write MERGE row: the storage strategy must be invisible in
    * the answer.
    */
  private def qDsv2MorMerge(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_mor_m"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT)
      TBLPROPERTIES ('update.mode'='merge-on-read',
                     'merge.mode'='merge-on-read',
                     'delete.mode'='merge-on-read')""")
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE o_orderkey < 400""")
    val src = s"graft_morm_src_${dirTag(d)}"
    s.sql(s"""SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) + 7 AS cents
      FROM $v WHERE o_orderkey >= 200 AND o_orderkey < 600""")
      .createOrReplaceTempView(src)
    s.sql(s"""MERGE INTO $t t USING $src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET status = 'U', cents = s.cents
      WHEN NOT MATCHED THEN INSERT (k, status, cents) VALUES (s.k, 'N', s.cents)
      WHEN NOT MATCHED BY SOURCE AND t.k < 100 THEN DELETE""")
    s.sql(s"SELECT k, status, cents FROM $t ORDER BY k")
  }
  // q_dsv2_mor_merge: the same three-leg MERGE arithmetic as
  // q_dsv2_merge — the storage strategy (vectors + insert files vs
  // whole-group rewrite) must be invisible in the answer
  row("q_dsv2_mor_merge", qDsv2MorMerge)(dsv2MergeOracle)

  /** COMPACTION EQUIVALENCE for the merge-on-read path
    * ([[graft.sources.v2.StageSource.compact]], Iceberg's
    * `rewrite_data_files` scoped to the dirty set): the same table shape
    * as [[qDsv2MorDelete]] takes a vector delete, then compaction
    * rewrites ONLY the files carrying vectors (through the standard
    * two-phase commit with full `replaceFiles`+`expectDvs` conflict
    * validation) and the read-back must be IDENTICAL — same oracle as
    * the uncompacted read, proving MOR-read ≡ compacted-read ≡ the
    * copy-on-write result. A second post-compaction delete exercises
    * fresh row ordinals over the rewritten files.
    */
  private def qDsv2MorCompact(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_mor_c"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT)
      TBLPROPERTIES ('delete.mode'='merge-on-read')""")
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE o_orderkey < 2000""")
    s.sql(s"DELETE FROM $t WHERE k % 7 = 2")
    // derive the table directory from the catalog's own root conf (the
    // layout knowledge lives in ONE place, stageCatalog)
    val dir = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/default/ord_mor_c"
    graft.sources.v2.StageSource.compact(dir)
    s.sql(s"DELETE FROM $t WHERE k % 11 = 3") // fresh ordinals post-compact
    s.sql(s"""SELECT status, COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM $t GROUP BY status ORDER BY status""")
  }
  // q_dsv2_mor_compact: compaction must preserve content exactly —
  // the same arithmetic with the second (post-compaction) delete
  row("q_dsv2_mor_compact", qDsv2MorCompact)(
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderkey % 7 <> 2
        |  AND o_orderkey % 11 <> 3
        |GROUP BY status ORDER BY status""".stripMargin)

  /** BOUNDED delete-vector encoding (r17 verdict #1, [[graft.sources.v2
    * .StageSource.writeDvFile]]): merge-on-read deletes used to ride the
    * manifest as one CUMULATIVE per-row line each, so after N accumulated
    * deletes EVERY commit — including unrelated appends — rewrote O(N)
    * manifest bytes driver-side. Vectors now live in immutable
    * CONTENT-ADDRESSED run-length sidecars (`_dv-<md5>.bin`) and the
    * manifest carries one constant-size reference line per dirty file;
    * carry-forward copies the reference, never the rows. The row proves
    * the contract live: a vector DELETE, then an UNRELATED append, then
    * two in-plan verdicts from the connector's own metadata —
    * `no_per_row_manifest_lines` (the post-append manifest holds zero
    * legacy D-lines) and `append_wrote_zero_dv_bytes` (the sidecar set
    * and the reference map are BYTE-IDENTICAL across the append — the
    * append's commit cost excluded the delete state entirely). At 100 TB
    * with 10M accumulated deletes this is the difference between a
    * ~570 MB manifest rewrite per commit and a few KB of reference
    * lines. The read-back aggregate is oracled against orders minus the
    * deleted keys plus the appended range.
    */
  private def qDsv2DvEncoding(s: SparkSession, d: String): DataFrame = {
    import graft.sources.v2.StageSource
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_dvenc"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT)
      TBLPROPERTIES ('delete.mode'='merge-on-read')""")
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE o_orderkey < 2000""")
    s.sql(s"DELETE FROM $t WHERE k % 7 = 2") // vectors across every file
    val dir = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/default/ord_dvenc"
    def sidecars = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("_dv-")).toSet
    val sidecarsBefore = sidecars
    val refsBefore = StageSource.readDvRefs(dir, None)
    // the UNRELATED append: its commit must carry the delete state as
    // references, writing zero vector bytes
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE o_orderkey >= 2000 AND o_orderkey < 2400""")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, StageSource.manifestName(
        StageSource.latestVersion(dir).get)).toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val noPerRow = !manifest.linesIterator.exists(_.startsWith("D\t"))
    val zeroDvBytes = sidecars == sidecarsBefore &&
      StageSource.readDvRefs(dir, None) == refsBefore
    s.sql(s"""SELECT status, COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM $t GROUP BY status ORDER BY status""")
      .withColumn("no_per_row_manifest_lines", lit(noPerRow))
      .withColumn("append_wrote_zero_dv_bytes", lit(zeroDvBytes))
  }
  // q_dsv2_dv_encoding: the vector delete + unrelated append replayed
  // arithmetically; the two encoding verdicts (no per-row manifest
  // lines, zero vector bytes written by the append) are asserted as
  // literal TRUE — a regression to the cumulative encoding
  // hash-mismatches the row
  row("q_dsv2_dv_encoding", qDsv2DvEncoding)(
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       TRUE AS no_per_row_manifest_lines,
        |       TRUE AS append_wrote_zero_dv_bytes
        |FROM orders
        |WHERE (o_orderkey < 2000 AND o_orderkey % 7 <> 2)
        |   OR (o_orderkey >= 2000 AND o_orderkey < 2400)
        |GROUP BY status ORDER BY status""".stripMargin)

  /** STREAMING READ of a staged table ([[graft.sources.v2
    * .StageMicroBatchStream]], r17 verdict #2 — the connector could sink
    * streams but not be TAILED): snapshot versions are the epochs, a
    * micro-batch is the files a version range appended, and
    * `maxFilesPerTrigger` + `Trigger.AvailableNow` drain the backlog in
    * BOUNDED batches (the `SupportsTriggerAvailableNow` contract — with
    * sub-version offset positions, so even one giant backfill commit
    * drains bounded). The row runs the full lifecycle: stage 3 shards →
    * drain through a streaming query into a staged SINK table (the
    * connector's own exactly-once streaming write) → append 2 more
    * shards → resume from the SAME checkpoint (the committed offset
    * version), which must re-read nothing — a re-read or a missed file
    * shifts the sink's content and hash-mismatches the oracle. The
    * `bounded_drain` verdict asserts the two drains took exactly
    * 3-then-2 single-file batches. At 100 TB this is the incremental
    *-consumption contract: downstream jobs tail committed snapshots
    * instead of re-scanning the table, and admission control keeps each
    * micro-batch executor-sized.
    */
  private def qDsv2StreamSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tag = dirTag(d)
    val fmt = "graft.sources.v2.StageSource"
    val srcDir = s"/tmp/graft_dsv2w/$tag/tail_src"
    val sinkDir = s"/tmp/graft_dsv2w/$tag/tail_sink"
    val ckpt = s"/tmp/graft_dsv2w/$tag/tail_ckpt"
    Seq(srcDir, sinkDir, ckpt).foreach(p =>
      graft.engine.Fs.deleteRecursively(new java.io.File(p)))
    val ord = Tables.orders(s, d).select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    ord.filter(col("k") < 1200).repartition(3)
      .write.format(fmt).option("path", srcDir).mode("append").save()
    def drain(): Long = {
      val q = s.readStream.format(fmt).option("path", srcDir)
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format(fmt).option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0).toLong
    }
    val batches1 = drain()
    ord.filter(col("k") >= 1200 && col("k") < 1500).repartition(2)
      .write.format(fmt).option("path", srcDir).mode("append").save()
    val batches2 = drain()
    s.read.format(fmt).option("path", sinkDir).load()
      .groupBy("status")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      .withColumn("bounded_drain", lit(batches1 == 3L && batches2 == 2L))
      .orderBy("status")
  }
  // q_dsv2_stream_source: the two drains' streamed content must equal
  // the batch answer over both staged ranges — a checkpoint-resume
  // re-read would double rows, a missed epoch would drop them, and
  // either hash-mismatches; the bounded-drain verdict (3-then-2
  // single-file batches under maxFilesPerTrigger=1) is asserted as
  // literal TRUE
  row("q_dsv2_stream_source", qDsv2StreamSource)(
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       TRUE AS bounded_drain
        |FROM orders WHERE o_orderkey < 1500
        |GROUP BY status ORDER BY status""".stripMargin)

  /** END-TO-END staged-table CDC (r17 verdict #2's composition: the new
    * streaming read × [[graft.operators.Changelog]]): an append-only CDC
    * LOG staged through the connector is TAILED by the micro-batch
    * source (each log epoch = one snapshot version = one batch under
    * `maxFilesPerTrigger=1`), and each batch incrementally advances a
    * MATERIALIZED staged table — read the current snapshot, apply the
    * batch's compacted log (last-writer-wins by seq, upserts + delete
    * tombstones), overwrite. Reading and overwriting the SAME staged
    * table inside one batch is safe by snapshot isolation: the scan is
    * pinned to the old manifest while the commit claims the next.
    * Correctness rides Changelog's split-invariance property (pinned in
    * OperatorPropertySpec): batch-at-a-time application at sequence
    * boundaries must equal the one-shot apply, which is exactly what the
    * oracle computes arithmetically. At 100 TB this is the lakehouse CDC
    * loop — Debezium-shaped log tailed from committed snapshots, bounded
    * batches, materialization advanced without rescanning the log.
    */
  private def qDsv2StreamCdc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tag = dirTag(d)
    val fmt = "graft.sources.v2.StageSource"
    val logDir = s"/tmp/graft_dsv2w/$tag/cdc_log"
    val matDir = s"/tmp/graft_dsv2w/$tag/cdc_mat"
    val ckpt = s"/tmp/graft_dsv2w/$tag/cdc_ckpt"
    Seq(logDir, matDir, ckpt).foreach(p =>
      graft.engine.Fs.deleteRecursively(new java.io.File(p)))
    val ord = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    // the base materialization: orders under 1000
    ord.filter(col("k") < 1000).select(col("k"), col("cents").as("v"))
      .coalesce(1)
      .write.format(fmt).option("path", matDir).mode("overwrite").save()
    // log epoch 1 (seq=1): updates for k%3=0, tombstones for the
    // k%5=0 remainder — one snapshot version, one file
    ord.filter(col("k") < 1000 && (col("k") % 3 === 0 || col("k") % 5 === 0))
      .select(col("k"), lit(1L).as("seq"),
        when(col("k") % 3 === 0, lit("U")).otherwise(lit("D")).as("op"),
        (col("cents") + 1).as("v"))
      .coalesce(1)
      .write.format(fmt).option("path", logDir).mode("append").save()
    // log epoch 2 (seq=2): k%7=0 upserts (re-inserting some epoch-1
    // tombstones) plus brand-new keys in [1000, 1200)
    ord.filter((col("k") < 1000 && col("k") % 7 === 0) ||
        (col("k") >= 1000 && col("k") < 1200))
      .select(col("k"), lit(2L).as("seq"), lit("U").as("op"),
        (col("cents") + 2).as("v"))
      .coalesce(1)
      .write.format(fmt).option("path", logDir).mode("append").save()
    val q = s.readStream.format(fmt).option("path", logDir)
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val mat = s.read.format(fmt).option("path", matDir).load()
        graft.operators.Changelog(mat, batch.select("k", "seq", "op", "v"))
          .select("k", "v")
          .write.format(fmt).option("path", matDir).mode("overwrite").save()
      }.start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    s.read.format(fmt).option("path", matDir).load()
      .select(col("k"), col("v"))
      .withColumn("one_epoch_per_batch", lit(batches == 2))
      .orderBy("k")
  }
  // q_dsv2_stream_cdc: the batch-at-a-time CDC materialization must
  // equal the one-shot apply (Changelog's split invariance) — epoch-2
  // upserts win over epoch-1 updates AND resurrect epoch-1 tombstones,
  // surviving tombstones drop the key, new keys insert; the
  // one-epoch-per-batch verdict is asserted as literal TRUE
  row("q_dsv2_stream_cdc", qDsv2StreamCdc)(
      """SELECT k, v, TRUE AS one_epoch_per_batch FROM (
        |  SELECT o_orderkey AS k,
        |         CASE WHEN o_orderkey % 7 = 0
        |                THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 2
        |              WHEN o_orderkey % 3 = 0
        |                THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1
        |              ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS v
        |  FROM orders
        |  WHERE o_orderkey < 1000
        |    AND NOT (o_orderkey % 5 = 0 AND o_orderkey % 3 <> 0
        |             AND o_orderkey % 7 <> 0)
        |  UNION ALL
        |  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) + 2
        |  FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 1200
        |) ORDER BY k""".stripMargin)

  /** AUTO-COMPACTION policy ([[graft.sources.v2.StageSource.maintain]],
    * r17 verdict #4 — compaction existed but was caller-invoked): the
    * table declares `compact.dv-threshold` as a TBLPROPERTY and the
    * maintenance entry point repays exactly the files whose
    * delete-vector fraction exceeds it. The row stages two partitions,
    * deletes ~2/3 of one (far over the 0.3 threshold) and ~1% of the
    * other (far under), runs `maintain`, and asserts BOTH policy edges
    * from the connector's own metadata: `heavy_repaid` (every
    * over-threshold file was rewritten vector-free) and `light_kept`
    * (every under-threshold file kept its vectors BYTE-IDENTICAL — the
    * policy never pays a rewrite the read debt doesn't justify). Content
    * is oracled unchanged across the maintenance pass. At 100 TB this
    * is the scheduled-maintenance contract: debt repayment is
    * dirty-file-only, priced per file from the `__rows` sidecar, and
    * claim-atomic under the same conflict validation as any rewrite.
    */
  private def qDsv2AutoCompact(s: SparkSession, d: String): DataFrame = {
    import graft.sources.v2.StageSource
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_ac"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t (k BIGINT, grp STRING, cents BIGINT)
      PARTITIONED BY (grp)
      TBLPROPERTIES ('delete.mode'='merge-on-read',
                     'compact.dv-threshold'='0.3')""")
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE o_orderkey < 2000""")
    s.sql(s"DELETE FROM $t WHERE grp = 'even' AND k % 3 <> 0") // ~2/3 dirty
    s.sql(s"DELETE FROM $t WHERE grp = 'odd' AND k % 97 = 1")  // ~1% dirty
    val dir = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/default/ord_ac"
    val stats = StageSource.readStats(dir)
    def frac(f: String, n: Int): Double =
      n.toDouble / stats(f)("__rows").min
    val before = StageSource.readDeletes(dir, None)
      .map { case (f, ps) => f -> ps.toSeq }
    StageSource.maintain(dir)
    val after = StageSource.readDeletes(dir, None)
      .map { case (f, ps) => f -> ps.toSeq }
    val heavyRepaid = before.forall { case (f, ps) =>
      frac(f, ps.size) <= 0.3 || !after.contains(f) }
    val lightKept = before.forall { case (f, ps) =>
      frac(f, ps.size) > 0.3 || after.get(f).contains(ps) }
    val policyFired = before.exists { case (f, ps) => frac(f, ps.size) > 0.3 } &&
      before.exists { case (f, ps) => frac(f, ps.size) <= 0.3 }
    s.sql(s"""SELECT grp, COUNT(*) AS n_rows, SUM(cents) AS sum_cents
      FROM $t GROUP BY grp ORDER BY grp""")
      .withColumn("heavy_repaid", lit(heavyRepaid && policyFired))
      .withColumn("light_kept", lit(lightKept))
  }
  // q_dsv2_auto_compact: content must be invariant across the
  // maintenance pass; the two policy verdicts (over-threshold files
  // repaid, under-threshold files untouched) are asserted as literal
  // TRUE from the connector's own metadata
  row("q_dsv2_auto_compact", qDsv2AutoCompact)(
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS grp,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       TRUE AS heavy_repaid,
        |       TRUE AS light_kept
        |FROM orders
        |WHERE o_orderkey < 2000
        |  AND NOT (o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0)
        |  AND NOT (o_orderkey % 2 = 1 AND o_orderkey % 97 = 1)
        |GROUP BY 1 ORDER BY grp""".stripMargin)

  /** SMALL-FILE BIN-PACKING via the maintenance policy ([[
    * graft.sources.v2.StageSource.binpack]], r18 verdict #2 — `maintain`
    * priced only DV debt, so steady micro-batch appends grew file count
    * without bound): the table declares `compact.target-file-bytes` and
    * the scheduled entry point coalesces under-sized files per PARTITION
    * VALUE through the standard claim-atomic rewrite
    * (`replaceFiles`+`expectDvs`), repaying any delete-vector debt on
    * the binned files in the same pass. The row stages six tiny appends
    * per partition (the `maxFilesPerTrigger=1` accumulation shape),
    * lands a MOR delete, runs `maintain`, and asserts from the
    * connector's own metadata: `files_packed` (count collapsed to one
    * per partition), `layout_kept` (no output file mixes partition
    * values), and `second_pass_noop` (idempotent — nothing left under
    * target worth packing). Content is oracled invariant across the
    * pass. At 100 TB this is what keeps manifest lines, per-file tasks
    * and sidecar entries O(data), not O(ingest epochs).
    */
  private def qDsv2Binpack(s: SparkSession, d: String): DataFrame = {
    import graft.sources.v2.StageSource
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_bp"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t (k BIGINT, grp STRING, cents BIGINT)
      PARTITIONED BY (grp)
      TBLPROPERTIES ('delete.mode'='merge-on-read',
                     'compact.target-file-bytes'='1048576')""")
    (0 until 6).foreach { i =>
      s.sql(s"""INSERT INTO $t
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
        FROM $v WHERE o_orderkey >= ${i * 300} AND o_orderkey < ${(i + 1) * 300}""")
    }
    s.sql(s"DELETE FROM $t WHERE k % 13 = 2") // MOR debt the pack repays
    val dir = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/default/ord_bp"
    val before = StageSource.snapshotFiles(dir, None).length
    StageSource.maintain(dir)
    val after = StageSource.snapshotFiles(dir, None)
    val parts = StageSource.readParts(dir)
    val filesPacked = before > 2 && after.length == 2 &&
      StageSource.readDeletes(dir, None).isEmpty
    val layoutKept = after.forall(f => parts(f.getName).length == 1)
    val vAfter = StageSource.latestVersion(dir).get
    StageSource.maintain(dir)
    val secondPassNoop = StageSource.latestVersion(dir).get == vAfter
    s.sql(s"""SELECT grp, COUNT(*) AS n_rows, SUM(cents) AS sum_cents
      FROM $t GROUP BY grp ORDER BY grp""")
      .withColumn("files_packed", lit(filesPacked))
      .withColumn("layout_kept", lit(layoutKept))
      .withColumn("second_pass_noop", lit(secondPassNoop))
  }
  // q_dsv2_binpack: content must be invariant across the bin-packing
  // maintenance pass (MOR delete applied — the pack repays the debt);
  // the three policy verdicts (small files collapsed to one per
  // partition with vectors repaid, no output file mixes partition
  // values, second pass is a no-op) are asserted as literal TRUE
  row("q_dsv2_binpack", qDsv2Binpack)(
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS grp,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       TRUE AS files_packed,
        |       TRUE AS layout_kept,
        |       TRUE AS second_pass_noop
        |FROM orders
        |WHERE o_orderkey < 1800 AND o_orderkey % 13 <> 2
        |GROUP BY 1 ORDER BY grp""".stripMargin)

  /** SNAPSHOTS metadata table ([[graft.sources.v2.StageSnapshots]], the
    * Iceberg `table$snapshots` / Delta `DESCRIBE HISTORY` surface on the
    * staging connector): one row per live snapshot with its commit time
    * and what its commit CHANGED — added/removed files, delete-vector
    * delta files and rows — read from the r19 self-contained manifest
    * change summaries, zero data bytes. The staging is exactly
    * file-deterministic (single-partition range inserts, a MOR delete
    * whose delta spans both files), so every count is oracled as a
    * literal: a drift in ANY commit's bookkeeping hash-mismatches the
    * row. At 100 TB this is the operability loop — "which commit
    * bloated the file count", "how much MOR debt did last night add" —
    * as one driver-side metadata scan.
    */
  private def qDsv2Snapshots(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.hist_snap"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t (k BIGINT, cents BIGINT)
      TBLPROPERTIES ('delete.mode'='merge-on-read')""")
    s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 500, 1, 1)")
    s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(500, 800, 1, 1)")
    s.sql(s"DELETE FROM $t WHERE k % 7 = 3") // 114 rows across both files
    s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(800, 850, 1, 1)")
    val dir = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/default/hist_snap"
    s.read.format("graft.sources.v2.StageSource").option("path", dir)
      .option("snapshots", "true").load()
      .select(col("version"), col("n_added"), col("n_removed"),
        col("n_dv_delta_files"), col("n_dv_deleted_rows"),
        col("committed_at_millis").isNotNull.as("commit_timed"),
        col("self_contained"))
      .orderBy("version")
  }
  // q_dsv2_snapshots: the metadata table's per-version bookkeeping is
  // exactly file-deterministic (single-partition inserts, a MOR delete
  // spanning both files) — every count a literal; 114 = |{k in [0,800):
  // k % 7 = 3}|
  row("q_dsv2_snapshots", qDsv2Snapshots)(
      """SELECT CAST(version AS BIGINT) AS version,
        |       CAST(n_added AS BIGINT) AS n_added,
        |       CAST(n_removed AS BIGINT) AS n_removed,
        |       CAST(n_dv_delta_files AS BIGINT) AS n_dv_delta_files,
        |       CAST(n_dv_deleted_rows AS BIGINT) AS n_dv_deleted_rows,
        |       commit_timed, self_contained
        |FROM (VALUES (1, 1, 0, 0, 0, TRUE, TRUE),
        |             (2, 1, 0, 0, 0, TRUE, TRUE),
        |             (3, 0, 0, 2, 114, TRUE, TRUE),
        |             (4, 1, 0, 0, 0, TRUE, TRUE))
        |  AS t(version, n_added, n_removed, n_dv_delta_files,
        |       n_dv_deleted_rows, commit_timed, self_contained)
        |ORDER BY version""".stripMargin)

  /** TIMESTAMP-WINDOWED change feed (`changes.start-timestamp` /
    * `changes.end-timestamp`, the Delta CDF timestamp-range idiom):
    * bounds resolve through the commit-time ledger to "the snapshot
    * current at that instant" — the window here starts at v1's commit
    * instant (excluding v1's bulk load) and ends at the delete's, so
    * the feed is exactly v2's inserts plus v3's retractions, grouped
    * and oracled arithmetically from orders. The incremental-consumer
    * story at 100 TB: "give me everything since last night's run" is a
    * ledger lookup plus the versions in the window, never a table diff.
    */
  private def qDsv2CdcWindow(s: SparkSession, d: String): DataFrame = {
    import graft.sources.v2.StageSource
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_cw"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t (k BIGINT, cents BIGINT)
      TBLPROPERTIES ('delete.mode'='merge-on-read')""")
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE o_orderkey < 1200""")                            // v1
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE o_orderkey >= 1200 AND o_orderkey < 1500""")     // v2
    s.sql(s"DELETE FROM $t WHERE k % 9 = 4")                         // v3
    val dir = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/default/ord_cw"
    val times = StageSource.readCommitTimes(dir)
    s.read.format("graft.sources.v2.StageSource").option("path", dir)
      .option("read-change-feed", "true")
      .option("changes.start-timestamp", times(1).toString)
      .option("changes.end-timestamp", times(3).toString)
      .load()
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      .orderBy("change_type")
  }
  // q_dsv2_cdc_window: the timestamp window (v1's commit instant to
  // the delete's) is exactly v2's inserts + v3's retractions
  row("q_dsv2_cdc_window", qDsv2CdcWindow)(
      """SELECT * FROM (
        |  SELECT 'delete' AS change_type,
        |         CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS sum_cents
        |  FROM orders WHERE o_orderkey < 1500 AND o_orderkey % 9 = 4
        |  UNION ALL
        |  SELECT 'insert',
        |         CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT)
        |  FROM orders WHERE o_orderkey >= 1200 AND o_orderkey < 1500
        |) ORDER BY change_type""".stripMargin)

  /** BUCKETED storage-partitioned join over staged CATALOG tables (r18
    * verdict #4 — StageSource accepted identity partitioning only, so
    * the measured SPJ width knob, 2.6× at w32 on the synthetic source,
    * was unreachable on real committed data): both tables declare
    * `PARTITIONED BY (bucket(16, custkey))`, writes route by the
    * catalog's own `bucket` V2 function (the same multiplicative hash
    * the scan reports as KeyGroupedPartitioning and the oracle replays
    * arithmetically), and the PK–FK join plans with ZERO exchanges in
    * its join subtree — the `exchange_free` verdict is read off the
    * executed plan. Unlike the identity-partitioned SPJ rows, the
    * bucket width here is a free knob: 16 buckets of a million-key
    * dimension, not a million key groups — exactly the at-scale shape
    * (a real cluster sizes width to executor count, not cardinality).
    */
  private def qDsv2SpjBucketed(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val fact = s"$cat.default.ord_bk"
    val dim = s"$cat.default.cust_bk"
    // WRITE-ONCE fixture (r19 — the qDsv2SpjStaged discipline): the row's
    // declared object is the exchange-free join over the bucket(16)
    // layout; re-creating both tables every run measured two DDL + two
    // bucket-clustered INSERT jobs beside it. The bucket WRITE acceptance
    // itself stays exercised (first build per corpus, plus
    // SourcesSpec's bucket-transform specs). Marker written LAST, after
    // both inserts, so a crashed partial build re-runs whole.
    val marker = new java.io.File(
      s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/default", "_spj_bk_STAGED")
    stagedOnceGuarded(marker.getPath)(marker.exists()) {
      s.sql(s"DROP TABLE IF EXISTS $fact")
      s.sql(s"DROP TABLE IF EXISTS $dim")
      val vo = s"graft_cat_orders_${dirTag(d)}"
      val vc = s"graft_cat_customer_${dirTag(d)}"
      Tables.orders(s, d).createOrReplaceTempView(vo)
      Tables.customer(s, d).createOrReplaceTempView(vc)
      s.sql(s"""CREATE TABLE $fact (custkey BIGINT, cents BIGINT)
        PARTITIONED BY (bucket(16, custkey))""")
      s.sql(s"""INSERT INTO $fact
        SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) FROM $vo""")
      s.sql(s"""CREATE TABLE $dim (custkey BIGINT, segment STRING)
        PARTITIONED BY (bucket(16, custkey))""")
      s.sql(s"INSERT INTO $dim SELECT c_custkey, c_mktsegment FROM $vc")
      marker.createNewFile(): Unit
    }
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "true")
    try {
      val j = s.table(fact).hint("merge").join(s.table(dim), "custkey")
        .groupBy("segment")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      j.collect(): Unit
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // the ONLY exchange allowed is the post-join aggregate's own small
      // shuffle: the join subtree (below SortMergeJoin) must be clean
      val joinSub = plan.linesIterator
        .dropWhile(!_.contains("SortMergeJoin")).mkString("\n")
      val exchangeFree = plan.contains("SortMergeJoin") &&
        !joinSub.linesIterator.exists(_.contains("Exchange "))
      j.withColumn("exchange_free", lit(exchangeFree)).orderBy("segment")
    } finally s.conf.set(key, prev)
  }
  // q_dsv2_spj_bucketed: the bucketed PK-FK join must equal the plain
  // relational answer (bucketing is pure layout), and the
  // exchange_free verdict — zero exchanges below the merge join, read
  // off the executed plan — is asserted TRUE
  row("q_dsv2_spj_bucketed", qDsv2SpjBucketed)(
      """SELECT c_mktsegment AS segment,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       TRUE AS exchange_free
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin)

  /** STRING ZONE MAPS (r18 verdict #3 — `readStats` recorded nothing for
    * string columns, so `lang = 'en'` / `source = 'web'` predicates, the
    * most common filters in an LLM-data pipeline, scanned every file):
    * commits now record truncated UTF-8 byte bounds per string column
    * (the Iceberg 16-byte idiom — plain-prefix lower bound, incremented-
    * prefix upper bound, compared in the same unsigned byte order Spark
    * itself sorts strings by, so pruning is conservative by
    * construction), wired into the same skip path as numeric ranges.
    * The row stages documents range-clustered by `lang`, runs the
    * point-predicate read, and asserts `files_skipped` from the executed
    * plan's `files=a/b` scan description; content is oracled against
    * the parquet source. The multi-byte / truncation-boundary edge
    * cases are fuzz-pinned in SourcesSpec.
    */
  private def qDsv2StringPrune(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val fmt = "graft.sources.v2.StageSource"
    val dir = s"/tmp/graft_dsv2w/$tag/strprune"
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartitionByRange(8, col("lang"))
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val q = s.read.format(fmt).option("path", dir).load()
      .filter(col("lang") === "en")
    val agg = q.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    agg.collect(): Unit // execute so the scan description carries counts
    val plan = agg.queryExecution.executedPlan.toString
    val skipped = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
      .exists(m => m.group(1).toInt < m.group(2).toInt &&
        m.group(2).toInt >= 2)
    agg.withColumn("files_skipped", lit(skipped)).orderBy("source")
  }
  // q_dsv2_string_prune: the lang='en' read over the range-clustered
  // staging must equal the parquet-side answer, and the
  // files_skipped verdict (string zone maps pruned whole files, from
  // the executed plan's own scan description) is asserted TRUE
  row("q_dsv2_string_prune", qDsv2StringPrune)(
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       TRUE AS files_skipped
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin)

  /** CHANGE-DATA-FEED of a staged table's OWN history ([[
    * graft.sources.v2.StageChangeFeed]], r18 verdict #1 — the streaming
    * tail refuses non-append changes and says "consume a CDC view
    * instead"; this row IS that view, end to end): appended files
    * surface as `insert` records, merge-on-read delete-vector deltas as
    * `delete` records bounded by the commit's own delta, and a
    * compaction rewrite as delete+insert that nets to zero. The row
    * drives the full lifecycle — two appends, a MOR delete, a
    * compaction, then STREAMS the feed (`Trigger.AvailableNow`,
    * `maxFilesPerTrigger=1`), lands a second MOR delete mid-stream (the
    * exact case that kills the plain tail), resumes from the same
    * checkpoint, and rebuilds the live table by multiset replay
    * (inserts ∖ deletes) of the STREAMED records. Four verdicts ride
    * the row: stream≡batch feed, rewrite nets zero, the mid-stream
    * delete arrived as exactly its delta, and the replay matches the
    * table. The accumulated feed is bounded by the staged slice (~500
    * rows — a driver-side fold like every streaming lifecycle row).
    * At 100 TB this is the lakehouse CDC loop on the table's own
    * history: downstream consumers follow inserts AND retractions
    * incrementally, no refusal, no rescan.
    */
  private def qDsv2CdcFeed(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.v2.StageSource
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_cdf"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT)
      TBLPROPERTIES ('delete.mode'='merge-on-read')""")
    def ins(where: String): Unit = s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v WHERE $where"""): Unit
    ins("o_orderkey < 1500")                       // v1
    ins("o_orderkey >= 1500 AND o_orderkey < 2000") // v2
    s.sql(s"DELETE FROM $t WHERE k % 7 = 3")       // v3: MOR delta
    val dir = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/default/ord_cdf"
    StageSource.compact(dir)                       // v4: rewrite = delete+insert
    val fmt = "graft.sources.v2.StageSource"
    val ckpt = s"/tmp/graft_dsv2w/${dirTag(d)}/cdf_ckpt"
    graft.engine.Fs.deleteRecursively(new java.io.File(ckpt))
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, String, Long)]
    def drain(): Long = {
      val q = s.readStream.format(fmt).option("path", dir)
        .option("read-change-feed", "true")
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => acc.add((r.getLong(0), r.getString(1),
            r.getLong(2), r.getString(3), r.getLong(4))))
          (): Unit
        }.start()
      q.awaitTermination()
      acc.size().toLong
    }
    drain()
    val preMid = acc.size()
    // the rows the mid-stream delete will retract, counted from the
    // PINNED pre-delete snapshot
    val midExpected = s.read.format(fmt).option("path", dir).load()
      .filter(col("k") % 11 === 5).count()
    s.sql(s"DELETE FROM $t WHERE k % 11 = 5")      // v5: mid-stream delete
    drain()                                        // resumes, consumes it
    import scala.jdk.CollectionConverters._
    val streamed = acc.asScala.toSeq
    import s.implicits._
    val feedDf = streamed.toDF("k", "status", "cents", "ctype", "ver")
    val batch = s.read.format(fmt).option("path", dir)
      .option("read-change-feed", "true").load()
      .select("k", "status", "cents", "_change_type", "_commit_version")
      .as[(Long, String, Long, String, Long)].collect().toSeq
    val streamEqBatch = streamed.sorted == batch.sorted
    val midDeltaExact = streamed.size - preMid == midExpected &&
      streamed.drop(preMid.toInt).forall(r => r._4 == "delete" && r._5 == 5L)
    val rewriteNetsZero = {
      val v4 = streamed.filter(_._5 == 4L)
      val insM = v4.filter(_._4 == "insert").map(r => (r._1, r._2, r._3))
      val delM = v4.filter(_._4 == "delete").map(r => (r._1, r._2, r._3))
      insM.nonEmpty && insM.sorted == delM.sorted
    }
    val replay = feedDf.filter($"ctype" === "insert").select("k", "status", "cents")
      .exceptAll(feedDf.filter($"ctype" === "delete").select("k", "status", "cents"))
    val live = s.read.format(fmt).option("path", dir).load()
    // both multiset-difference directions in ONE job (r19: two sequential
    // isEmpty actions paid a second scheduling round-trip for the same
    // verdict; the union is still exact — empty iff both sides are empty)
    val replayMatches =
      replay.exceptAll(live).union(live.exceptAll(replay)).isEmpty
    replay.groupBy("status")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      .withColumn("stream_equals_batch", lit(streamEqBatch))
      .withColumn("mid_stream_delete_consumed", lit(midDeltaExact))
      .withColumn("rewrite_nets_zero", lit(rewriteNetsZero))
      .withColumn("replay_matches_table", lit(replayMatches))
      .orderBy("status")
  }
  // q_dsv2_cdc_feed: the streamed change-data-feed's multiset replay
  // (inserts ∖ deletes) must equal the post-lifecycle table — both
  // MOR deletes applied, the compaction rewrite netting zero; the
  // four feed verdicts (stream≡batch, mid-stream delete consumed as
  // exactly its delta, rewrite nets zero, replay matches the table)
  // are asserted as literal TRUE
  row("q_dsv2_cdc_feed", qDsv2CdcFeed)(
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       TRUE AS stream_equals_batch,
        |       TRUE AS mid_stream_delete_consumed,
        |       TRUE AS rewrite_nets_zero,
        |       TRUE AS replay_matches_table
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderkey % 7 <> 3
        |  AND o_orderkey % 11 <> 5
        |GROUP BY status ORDER BY status""".stripMargin)

  /** DIRECT storage-partitioned PK–FK join over staged tables — the
    * sort-free leg ([[qDsv2SpjStaged]] aggregates before joining, so its
    * merge join sorts above the hash aggregates; here the fact table
    * joins the bucket dimension DIRECTLY and the scans' declared
    * ordering — each key-grouped partition holds one constant key —
    * lets the planner delete the per-partition sorts too: the join
    * subtree plans with ZERO exchanges and ZERO sorts, plan-pinned).
    * The post-join aggregate's own small shuffle is the only exchange.
    */
  private def qDsv2SpjDim(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val fmt = "graft.sources.v2.StageSource"
    val factDir = s"/tmp/graft_dsv2w/$tag/spjd_fact"
    val dimDir = s"/tmp/graft_dsv2w/$tag/spjd_dim"
    // WRITE-ONCE fixture (r19 — the [[qDsv2SpjStaged]] r17-verdict-#6
    // discipline applied to this row too): the row's declared object is
    // the exchange-free, sort-free join over the staged layout, and
    // re-staging both tables every run made the bench number measure the
    // staging writes beside it. The write path keeps its own rows
    // (q_dsv2_write / q_dsv2_lineage / q_dsv2_catalog).
    stagedOnce(factDir) {
      Tables.orders(s, d)
        .select((col("o_orderkey") % 8).as("b"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.format(fmt).option("path", factDir)
        .option("partition_by", "b").mode("overwrite").save()
    }
    stagedOnce(dimDir) {
      s.range(0, 8)
        .select(col("id").as("b"),
          concat(lit("bucket_"), col("id")).as("label"))
        .write.format(fmt).option("path", dimDir)
        .option("partition_by", "b").mode("overwrite").save()
    }
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "true")
    try {
      val fact = s.read.format(fmt).option("path", factDir).load()
      val dim = s.read.format(fmt).option("path", dimDir).load()
      val out = fact.hint("merge").join(dim, "b")
        .groupBy("label")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        .orderBy("label")
      out.queryExecution.executedPlan // force planning under the conf
      out
    } finally s.conf.set(key, prev)
  }
  // q_dsv2_spj_dim: the direct PK-FK staged join's content — per-bucket
  // order counts and cents straight from orders
  row("q_dsv2_spj_dim", qDsv2SpjDim)(
      """SELECT 'bucket_' || CAST(o_orderkey % 8 AS VARCHAR) AS label,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY label""".stripMargin)

  /** Row LINEAGE through the connector's metadata column
    * ([[graft.sources.v2.StageTable]]'s `SupportsMetadataColumns` — the
    * `_metadata.file_path` analog): lineitem is written through the
    * staging connector IDENTITY-PARTITIONED by return flag (the write
    * declares clustered distribution via `RequiresDistributionAndOrdering`
    * — Spark plans the shuffle, each flag lands wholly in one task, the
    * writer routes one committed shard per flag value), read back with
    * the hidden `_file` column, and the audit proves the layout from
    * lineage alone: every flag's rows live in exactly ONE shard
    * (`n_files` = 1) and the three flags live in THREE distinct shards
    * (`total_files`, attached via a broadcast 1-row aggregate). `_file`
    * is absent from `SELECT *` (pinned in ConnectorSpec) — lineage is
    * materialized only when asked for. At 100 TB this is the shard audit
    * a takedown/dedup pipeline runs before acting file-wise: which files
    * hold which cohort, without a provenance column baked into every row.
    */
  private def qDsv2Lineage(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft_dsv2w/${dirTag(d)}/lineage"
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .write.format("graft.sources.v2.StageSource")
      .option("path", root).option("partition_by", "flag")
      .mode("overwrite").save()
    val back = s.read.format("graft.sources.v2.StageSource")
      .option("path", root).load()
      .select(col("flag"), col("cents"), col("_file"))
    val perFlag = back.groupBy("flag")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
        countDistinct(col("_file")).as("n_files"))
    val total = back.agg(countDistinct(col("_file")).as("total_files"))
    perFlag.withColumn("one", lit(1))
      .join(broadcast(total.withColumn("one", lit(1))), "one")
      .drop("one")
      .select("flag", "n_rows", "sum_cents", "n_files", "total_files")
      .orderBy("flag")
  }
  // q_dsv2_lineage: the per-flag content straight from lineitem; the
  // lineage claims (one shard per flag, three shards total) replayed
  // as the constants the co-located layout guarantees
  row("q_dsv2_lineage", qDsv2Lineage)(
      """SELECT l_returnflag AS flag,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       CAST(1 AS BIGINT) AS n_files,
        |       CAST(3 AS BIGINT) AS total_files
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin)

  /** Register the staging catalog once per session (idempotent): SQL
    * DDL/DML address the connector's tables as `stage_<tag>.default.<t>`.
    */
  private def stageCatalog(s: SparkSession, d: String): String = {
    val tag = dirTag(d)
    val cat = s"stage_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.StageCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", s"/tmp/graft_dsv2cat/$tag")
    cat
  }

  // q_dsv2_catalog: the catalog is a naming seam — the content through
  // CREATE/INSERT/SELECT must be exactly orders
  private val dsv2CatalogOracle: String =
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       CAST(MIN(o_orderkey) AS BIGINT) AS min_k,
        |       CAST(MAX(o_orderkey) AS BIGINT) AS max_k
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  /** SQL DDL/DML THROUGH the custom catalog ([[graft.sources.v2
    * .StageCatalog]] — the seam that turns the path-based connector into
    * addressable tables, the surface a table format exposes): CREATE
    * TABLE … PARTITIONED BY (status) declares the identity layout, INSERT
    * INTO routes every status to its own committed shard (the write's
    * required clustering plans the shuffle), and the read-back GROUP BY
    * runs over the catalog identifier, not a path. The oracle replays the
    * content straight from orders — the catalog must be a pure naming
    * seam, never a data transformation.
    */
  private def qDsv2Catalog(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_part"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) " +
      "PARTITIONED BY (status)")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v""")
    s.sql(s"""SELECT status, COUNT(*) AS n_orders, SUM(cents) AS sum_cents,
             MIN(k) AS min_k, MAX(k) AS max_k
      FROM $t GROUP BY status ORDER BY status""")
  }
  row("q_dsv2_catalog", qDsv2Catalog)(dsv2CatalogOracle)

  /** Partition-predicate DELETE — the TAKEDOWN path ([[graft.sources.v2
    * .StageTable]]'s `SupportsDeleteV2`, Iceberg's metadata-delete
    * contract): `DELETE FROM … WHERE status IN (…)` on an
    * identity-partitioned table resolves to dropping whole committed
    * files from the snapshot — every file carries exactly one partition
    * value, so the predicate is decidable per-file and NO row is read or
    * rewritten. A predicate the layout cannot decide (a non-partition
    * column) is DECLINED loudly (canDeleteWhere=false → Spark raises;
    * the decline leg is pinned in SourcesSpec) — at 100 TB a takedown
    * that silently rewrote petabytes row-wise would be a bug. The
    * read-back after the delete is oracled against orders minus the
    * deleted statuses, and the scan's `files=` evidence (pinned in
    * PlanAuditSpec) proves the surviving partitions were never touched.
    */
  private def qDsv2Delete(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_takedown"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) " +
      "PARTITIONED BY (status)")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v""")
    s.sql(s"DELETE FROM $t WHERE status IN ('P', 'F')")
    s.sql(s"""SELECT status, COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM $t GROUP BY status ORDER BY status""")
  }
  // q_dsv2_delete: the takedown replayed as a NOT IN — the partition
  // delete must remove exactly the two statuses' rows, nothing else
  row("q_dsv2_delete", qDsv2Delete)(
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus NOT IN ('P', 'F')
        |GROUP BY 1 ORDER BY status""".stripMargin)

  /** STREAMING read through the custom connector ([[graft.sources.v2
    * .SeqMicroBatchStream]] — the connector's MICRO_BATCH_READ half, with
    * real offset bookkeeping and admission control): the same
    * deterministic domain is consumed as a sequence of bounded
    * micro-batches (`maxRowsPerBatch` = 50k over 210k rows → ≥5 batches,
    * the Kafka `maxOffsetsPerTrigger` back-pressure contract),
    * aggregated in complete mode, drained by Trigger.AvailableNow. The
    * final aggregate must equal the batch answer over the whole domain —
    * streaming-in-bounded-pieces is an execution strategy, never a
    * semantics change. The multi-batch lifecycle is pinned in
    * StreamingSpec (progress count ≥ 5, offsets strictly increasing).
    */
  private def qDsv2Stream(s: SparkSession, d: String): DataFrame = {
    val tag = dirTag(d)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = s.readStream.format("graft.sources.v2.SeqSource")
        .option("n", 210000L).option("slices", 8)
        .option("maxRowsPerBatch", 50000L)
        .load()
        .groupBy(col("mod7"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(s"graft_dsv2_stream_$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(s"graft_dsv2_stream_$tag").orderBy("mod7")
  }
  // q_dsv2_stream: the streamed-in-bounded-batches aggregate must equal
  // the whole-domain batch answer
  row("q_dsv2_stream", qDsv2Stream)(
      """SELECT CAST(id % 7 AS BIGINT) AS mod7,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM((id * 37) % 10000) AS BIGINT) AS sum_cents
        |FROM (SELECT range AS id FROM range(0, 210000))
        |GROUP BY 1 ORDER BY mod7""".stripMargin)

  /** STREAMING sink THROUGH the custom connector ([[graft.sources.v2
    * .StageStreamingWrite]] — the last quadrant of the connector matrix:
    * batch read/write and streaming read are already rows): the
    * connector-streamed sequence (3 bounded micro-batches via admission
    * control) is appended epoch-by-epoch through the same two-phase
    * commit as the batch write, made effectively EXACTLY-ONCE by the
    * epoch ledger (`_epochs.txt` + epoch-deterministic file names — Spark
    * re-offers the last epoch after a restart between sink commit and
    * offset log; the ledger skips it; SourcesSpec pins the re-delivery
    * no-op). The read-back aggregate over the committed table must equal
    * the whole-domain batch answer: micro-batched delivery through an
    * at-least-once channel changes nothing about the content.
    */
  private def qDsv2StreamSink(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft_dsv2w/${dirTag(d)}/streamsink"
    graft.engine.Fs.deleteRecursively(new java.io.File(root))
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = s.readStream.format("graft.sources.v2.SeqSource")
        .option("n", 120000L).option("slices", 4)
        .option("maxRowsPerBatch", 40000L)
        .load()
        .writeStream.format("graft.sources.v2.StageSource")
        .option("path", root)
        .option("checkpointLocation", s"$root/.ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.read.format("graft.sources.v2.StageSource").option("path", root).load()
      .groupBy(col("mod7"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy("mod7")
  }
  // q_dsv2_stream_sink: content through the streaming sink's epoch
  // commits must be exactly the whole domain, no dups, no gaps
  row("q_dsv2_stream_sink", qDsv2StreamSink)(
      """SELECT CAST(id % 7 AS BIGINT) AS mod7,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM((id * 37) % 10000) AS BIGINT) AS sum_cents
        |FROM (SELECT range AS id FROM range(0, 120000))
        |GROUP BY 1 ORDER BY mod7""".stripMargin)

  /** Catalog-scoped SQL FUNCTIONS ([[graft.sources.v2.StageCatalog]]'s
    * `FunctionCatalog` half — Iceberg's system-function surface): the
    * query calls `<cat>.default.knuth_bucket(16, k)` (multiplicative-hash
    * bucketing, Knuth §6.4 — engine-portable by design) and
    * `<cat>.default.cents(x)` (the catalog's exact-money idiom) resolved
    * THROUGH the catalog, not the session registry. Both carry a magic
    * `invoke` over primitives, so the calls codegen via Invoke straight
    * into the aggregate — no UDF boxing (ExtensionsSpec pins
    * ApplyFunctionExpression's absence from the executed plan). At 100 TB
    * this is shared write/query vocabulary: the bucket function that laid
    * the table out is the same catalog object queries filter with.
    */
  private def qDsv2Function(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""SELECT $cat.default.knuth_bucket(16L, o_orderkey) AS b,
             COUNT(*) AS n_orders,
             SUM($cat.default.cents(o_totalprice)) AS sum_cents
      FROM $v GROUP BY b ORDER BY b""")
  }
  // q_dsv2_function: the catalog functions replayed arithmetically —
  // Fibonacci-hash bucket over the low 32 bits, exact-cents money
  row("q_dsv2_function", qDsv2Function)(
      """SELECT ((o_orderkey * 2654435761) % 4294967296) % 16 AS b,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY b""".stripMargin)

  /** SNAPSHOT versioning + TIME TRAVEL through the staging connector
    * (every commit writes a `_v<N>.manifest` naming its exact file set;
    * overwrite is LOGICAL — the old snapshot's files stay on disk until
    * a vacuum expires them — so crash safety and time travel are the
    * same mechanism): three catalog commits (INSERT, INSERT, INSERT
    * OVERWRITE) build versions 1..3, and the row reads all three via SQL
    * `VERSION AS OF`, the default (latest) read (must equal v3), and
    * three `TIMESTAMP AS OF` instants bracketing the commits — each
    * resolved through the per-manifest commit-time ledger
    * (`_commits.tsv`, Iceberg's snapshot-timestamp contract) to the
    * snapshot current at that instant. A reproducible training run pins
    * either form and gets the same corpus next month regardless of later
    * appends/overwrites — snapshot isolation. Vacuum semantics (history
    * expired, pre-vacuum versions fail loudly, takedown-deleted files
    * make older versions unreconstructible BY DESIGN) and the
    * pre-ledger-table decline are pinned in SourcesSpec.
    */
  private def qDsv2TimeTravel(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.tt_orders"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    def insert(lo: Long, hi: Long, overwrite: Boolean): Unit =
      s.sql(s"""INSERT ${if (overwrite) "OVERWRITE" else "INTO"} $t
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
        FROM $v WHERE o_orderkey >= $lo AND o_orderkey < $hi""")
    // commit instants bracket each snapshot; the 5 ms gap keeps the
    // millisecond-resolution ledger strictly ordered so TIMESTAMP AS OF
    // an instant between commits is unambiguous
    insert(0, 200, overwrite = false) // v1
    val afterV1 = System.currentTimeMillis(); Thread.sleep(5)
    insert(200, 500, overwrite = false) // v2 = v1 + [200,500)
    val afterV2 = System.currentTimeMillis(); Thread.sleep(5)
    insert(500, 600, overwrite = true) // v3: logical truncate — [500,600)
    val afterV3 = System.currentTimeMillis()
    def agg(df: DataFrame, v: Long) = df
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
    def atV(ver: Int) = s.sql(s"SELECT * FROM $t VERSION AS OF $ver")
    // TIMESTAMP AS OF resolves through the per-manifest commit-time
    // ledger to the snapshot current at that instant (Iceberg's
    // snapshot-timestamp contract); pre-ledger tables decline loudly
    // (SourcesSpec pins the decline)
    def atT(ms: Long) =
      s.sql(s"SELECT * FROM $t TIMESTAMP AS OF timestamp_millis($ms)")
    agg(atV(1), 1).unionAll(agg(atV(2), 2)).unionAll(agg(atV(3), 3))
      .unionAll(agg(s.sql(s"SELECT * FROM $t"), 4)) // default read = v3
      .unionAll(agg(atT(afterV1), 5)) // instant after v1 → v1
      .unionAll(agg(atT(afterV2), 6)) // instant between v2 and v3 → v2
      .unionAll(agg(atT(afterV3), 7)) // instant after the last → v3
      .orderBy("version")
  }
  // q_dsv2_time_travel: each snapshot replayed from orders — v1 is the
  // first slice, v2 accumulates, v3 (logical overwrite) replaces; the
  // default read (4) must equal v3, and the three TIMESTAMP AS OF
  // instants (5,6,7) must land on v1, v2, v3 respectively
  row("q_dsv2_time_travel", qDsv2TimeTravel)(
      """WITH s AS (
        |  SELECT o_orderkey AS k,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM s WHERE k < 200
        |UNION ALL SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(cents) AS BIGINT) FROM s WHERE k < 500
        |UNION ALL SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(cents) AS BIGINT) FROM s WHERE k >= 500 AND k < 600
        |UNION ALL SELECT CAST(4 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(cents) AS BIGINT) FROM s WHERE k >= 500 AND k < 600
        |UNION ALL SELECT CAST(5 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(cents) AS BIGINT) FROM s WHERE k < 200
        |UNION ALL SELECT CAST(6 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(cents) AS BIGINT) FROM s WHERE k < 500
        |UNION ALL SELECT CAST(7 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(cents) AS BIGINT) FROM s WHERE k >= 500 AND k < 600
        |ORDER BY version""".stripMargin)

  /** TYPED staging (r15 verdict #5): the connector's framing carries
    * TIMESTAMP (epoch micros) and DECIMAL (unscaled bytes) columns —
    * the events schema and the catalog's exact-currency discipline —
    * through write → zone maps → partition pruning → read. Events are
    * staged partitioned by day-of-month with an exact-integer
    * DECIMAL(18,2) money column; the read back prunes to three day
    * partitions AND zone-map-skips on a timestamp cutoff (both
    * predicates visible in the scan description, pinned in SourcesSpec
    * at the unit level), then aggregates per day. At 100 TB this is the
    * difference between a staging table that can hold a real event feed
    * and one that needs every temporal/money column laundered through
    * longs at the boundary.
    */
  private def qDsv2TypedStage(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft_dsv2w/${dirTag(d)}/typed"
    val fmt = "graft.sources.v2.StageSource"
    Tables.events(s, d)
      .select(col("event_id"), col("ts"),
        round(col("value") * 100).cast("long")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("val_dec"),
        dayofmonth(col("ts")).cast("long").as("day"))
      .write.format(fmt).option("path", root)
      .option("partition_by", "day").mode("overwrite").save()
    val back = s.read.format(fmt).option("path", root).load()
    back
      .filter(col("day") >= 10 && col("day") <= 12) // partition pruning
      .filter(col("ts") >= // zone-map skip on the timestamp column
        lit(java.time.Instant.parse("2024-01-10T12:00:00Z")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("val_dec")).cast("double").as("sum_val"),
        unix_micros(max(col("ts"))).as("max_ts_us"))
      .orderBy("day")
  }
  // q_dsv2_typed_stage: the typed staging round-trip replayed straight
  // from events — day-of-month partitions 10..12, timestamp cutoff,
  // exact-integer decimal money summed (emitted as double; the values
  // are integral cents so the double is exact)
  row("q_dsv2_typed_stage", qDsv2TypedStage)(
      """SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS day,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) AS sum_val,
        |       epoch_us(MAX(ts)) AS max_ts_us
        |FROM events
        |WHERE EXTRACT(day FROM ts) BETWEEN 10 AND 12
        |  AND ts >= TIMESTAMP '2024-01-10 12:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Partition-scoped INSERT OVERWRITE ([[graft.sources.v2
    * .StageWriteBuilder]]'s `SupportsOverwrite` — the daily-pipeline
    * idiom): `INSERT INTO … REPLACE WHERE status = 'O'` recomputes ONE
    * partition (corrected cents) while every other partition's files are
    * carried into the new snapshot untouched — no read, no rewrite, just
    * manifest surgery plus the one new shard. The predicate must be
    * decidable from the partition layout; anything finer throws at plan
    * time (pinned in SourcesSpec) instead of half-replacing data. The
    * read-back is oracled against orders with the recompute applied to
    * 'O' only.
    */
  private def qDsv2ReplaceWhere(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_daily"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, status STRING, cents BIGINT) " +
      "PARTITIONED BY (status)")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""INSERT INTO $t
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
      FROM $v""")
    // the daily recompute: partition 'O' replaced with corrected cents
    s.sql(s"""INSERT INTO $t REPLACE WHERE status = 'O'
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) + 5
      FROM $v WHERE o_orderstatus = 'O'""")
    s.sql(s"""SELECT status, COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM $t GROUP BY status ORDER BY status""")
  }
  // q_dsv2_replace_where: the one-partition recompute replayed — 'O'
  // rows carry the +5 correction, every other status is untouched
  row("q_dsv2_replace_where", qDsv2ReplaceWhere)(
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |             + CASE WHEN o_orderstatus = 'O' THEN 5 ELSE 0 END)
        |            AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin)

  /** CREATE TABLE AS SELECT through the custom catalog (the other DDL
    * entry point: schema inferred from the query, partitioning declared,
    * creation + first snapshot in one statement). Content must again be
    * exactly orders — CTAS is naming + the write path, nothing more.
    */
  private def qDsv2Ctas(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val t = s"$cat.default.ord_ctas"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (status) AS
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM $v""")
    s.sql(s"""SELECT status, COUNT(*) AS n_orders, SUM(cents) AS sum_cents,
             MIN(k) AS min_k, MAX(k) AS max_k
      FROM $t GROUP BY status ORDER BY status""")
  }
  // q_dsv2_ctas: CTAS is naming + the write path — content straight
  // from orders
  row("q_dsv2_ctas", qDsv2Ctas)(dsv2CatalogOracle)

  /** Catalog-scoped AGGREGATE function ([[graft.sources.v2.StageCatalog
    * .GMean]] — the V2 `AggregateFunction` contract: per-partition
    * `update`, associative `merge` of partials, one final
    * `produceResult` — the reference's partial/final aggregate seam
    * (`aggregator_fn_t`) expressed at the connector function layer, so
    * SQL calls it like a builtin and Spark plans the same two-phase
    * hash aggregate it plans for SUM). Geometric mean per order status,
    * oracled against DuckDB's `EXP(AVG(LN(x)))` at 4 decimals.
    */
  private def qDsv2AggFunction(s: SparkSession, d: String): DataFrame = {
    val cat = stageCatalog(s, d)
    val v = s"graft_cat_orders_${dirTag(d)}"
    Tables.orders(s, d).createOrReplaceTempView(v)
    s.sql(s"""SELECT o_orderstatus AS status,
             ROUND($cat.default.gmean(o_totalprice), 4) AS gm,
             COUNT(*) AS n_orders
      FROM $v GROUP BY 1 ORDER BY status""")
  }
  // q_dsv2_agg_function: the mergeable geometric mean replayed as
  // EXP(AVG(LN(x))) — associative log-sum, engine-portable at 4dp
  row("q_dsv2_agg_function", qDsv2AggFunction)(
      """SELECT o_orderstatus AS status,
        |       ROUND(EXP(AVG(LN(o_totalprice))), 4) AS gm,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin)

  /** Aggregate pushdown into the STAGING connector ([[graft.sources.v2
    * .StageScanBuilder]]'s `SupportsPushDownAggregates` — the parquet
    * footer-statistics story on the connector's own format): COUNT(*) /
    * MIN / MAX over the staged table are answered ENTIRELY from the
    * commit-time sidecar statistics (`__rows` counts + per-file zone
    * maps) — the plan is a bare project over a 1-row `StageAggScan`, no
    * data file opened, no aggregate operator (pinned in PlanAuditSpec
    * with the decline legs: filters, GROUP BY, SUM and double columns
    * all fall back to the row path). At 100 TB a full-table count/key
    * range is a metadata read, not a scan.
    */
  private def qDsv2StatsAgg(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft_dsv2w/${dirTag(d)}/statsagg"
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .write.format("graft.sources.v2.StageSource")
      .option("path", root).mode("overwrite").save()
    s.read.format("graft.sources.v2.StageSource").option("path", root).load()
      .agg(count(lit(1)).as("n_rows"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
  }
  // q_dsv2_stats_agg: the sidecar-answered aggregates replayed by
  // brute force over orders
  row("q_dsv2_stats_agg", qDsv2StatsAgg)(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(MIN(o_orderkey) AS BIGINT) AS min_k,
        |       CAST(MAX(o_orderkey) AS BIGINT) AS max_k
        |FROM orders""".stripMargin)

  /** Snapshot-history EXPIRY ([[graft.sources.v2.StageSource.vacuum]] —
    * Iceberg's `expire_snapshots`): three commits build versions 1..3,
    * vacuum expires everything but the latest — pre-vacuum versions
    * fail loudly afterwards (`history_expired`, asserted in-plan as a
    * literal the oracle checks as TRUE), the physical file set shrinks
    * to exactly the latest manifest (`files_pruned`), and the surviving
    * content is oracled against the v3 slice of orders. This is the
    * retention half of the time-travel contract: storage is reclaimed
    * on an explicit, auditable boundary, never implicitly.
    */
  private def qDsv2Vacuum(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft_dsv2w/${dirTag(d)}/vacuum"
    graft.engine.Fs.deleteRecursively(new java.io.File(root))
    val fmt = "graft.sources.v2.StageSource"
    val orders = Tables.orders(s, d)
    def slice(lo: Long, hi: Long) = orders
      .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    slice(0, 300).write.format(fmt).option("path", root)
      .mode("overwrite").save() // v1
    slice(300, 500).write.format(fmt).option("path", root)
      .mode("append").save() // v2
    slice(500, 700).write.format(fmt).option("path", root)
      .mode("overwrite").save() // v3
    graft.sources.v2.StageSource.vacuum(root)
    // probe history expiry through the snapshot RESOLVER (the exact
    // function every reader calls), not through a full Spark action: a
    // deliberately-failing count() leaves a failed QueryExecution that
    // every registered QueryExecutionListener then re-analyzes — the
    // same require throws again INSIDE the listener bus and spams ERROR
    // lines into every bench/verify log (observed at the sf1 run). The
    // read-path failure itself stays pinned in SourcesSpec's vacuum test.
    val historyExpired =
      try {
        graft.sources.v2.StageSource.snapshotFiles(root, Some(1))
        false
      } catch { case _: IllegalArgumentException => true }
    val physical = graft.sources.v2.StageSource
      .dataFiles(root).map(_.getName).toSet
    val manifest = graft.sources.v2.StageSource
      .snapshotFiles(root, None).map(_.getName).toSet
    val nVersions = graft.sources.v2.StageSource.manifestVersions(root).length
    s.read.format(fmt).option("path", root).load()
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(col("n_rows"), col("sum_cents"),
        lit(nVersions.toLong).as("n_versions"),
        lit(historyExpired).as("history_expired"),
        lit(physical == manifest).as("files_pruned"))
  }
  // q_dsv2_vacuum: the post-expiry survivor content (v3's slice) plus
  // the expiry verdicts asserted as literal truths
  row("q_dsv2_vacuum", qDsv2Vacuum)(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       CAST(1 AS BIGINT) AS n_versions,
        |       TRUE AS history_expired,
        |       TRUE AS files_pruned
        |FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 700""".stripMargin)
}
