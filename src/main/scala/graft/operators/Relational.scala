package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference-parity relational operators, expressed Spark-first.
  *
  * Each maps one row of SURVEY.md §2.1's inventory onto declarative
  * DataFrame plans so Catalyst/Tungsten pick the physical strategy:
  *  - Filter+compact (ref `dpu/shared/kernels/filter.c:57-177`) → `FilterExec`
  *    under whole-stage codegen, predicate pushed to the parquet scan.
  *  - SUM partial/final (ref `dpu/aggr/main.c:70-90` three-level combine) →
  *    `HashAggregateExec(partial)` → single-partition exchange → final.
  *  - Hash partition (ref `dpu/shared/kernels/partition.c:296-341`) →
  *    `RepartitionByExpression` / `ShuffleExchangeExec` (Murmur3 pmod; the
  *    reference's wang-hash parity is not required — only disjoint-cover
  *    semantics, SURVEY §4.2).
  *  - PK–FK inner join (ref `host/join/join_dpu.cc:158-400`) → Catalyst's
  *    broadcast/shuffled hash join; small dims are broadcast explicitly.
  */
object Relational {

  /** Selection + compaction: rows where `pred`, only `cols` kept (dense
    * output, input order preserved per-partition). The reference hard-codes
    * `v < 2^30` (`filter.c:25`); the predicate here is any Catalyst column.
    */
  def filterCompact(df: DataFrame, pred: Column, cols: Seq[String]): DataFrame =
    df.filter(pred).select(cols.map(col): _*)

  /** Scalar SUM over one column (ref `host/aggr/aggr_dpu.cc:31-89`).
    * Each partition sums its rows; on a session with `GraftExtensions` the
    * driver then adds the per-partition partials
    * (`graft.plans.DriverMergeExec`), as the reference's host adds each
    * DPU's `sum_result` (`aggr_dpu.cc:82-85`), with no exchange between.
    */
  def sumAgg(df: DataFrame, valueCol: String, as: String = "sum_v"): DataFrame =
    df.agg(sum(col(valueCol)).as(as))

  /** Hash partition a table on a key, preserving all columns and the total
    * row multiset (ref `host/partition/partition_dpu.cc:49-131`). The
    * per-partition histograms the reference returns to the host are
    * available via [[partitionStats]].
    */
  def hashPartition(df: DataFrame, numPartitions: Int, keyCol: String): DataFrame =
    df.repartition(numPartitions, col(keyCol))

  /** Per-partition row counts after [[hashPartition]] — the Spark analog of
    * the reference's histogram metadata (`host/partition/partitioner.cc:166-180`).
    * Used by tests to assert the reference's (disabled) balance invariants
    * (`host/partition/partition_test.cc:40-56`).
    */
  def partitionStats(partitioned: DataFrame): DataFrame =
    partitioned
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_rows"))

  /** PK–FK inner equi-join: all left columns + right non-key columns, right
    * key dropped (ref `host/join/join_native.cc:31-36,75-76`). When
    * `broadcastRight` the dimension side is broadcast — no shuffle of the
    * fact table at all, the plan a 100 TB fact join wants whenever the dim
    * fits in executor memory; otherwise Catalyst/AQE picks shuffled-hash or
    * sort-merge with skew handling.
    */
  def pkFkJoin(
      left: DataFrame,
      right: DataFrame,
      fkCol: String,
      pkCol: String,
      broadcastRight: Boolean = false): DataFrame = {
    val dim = if (broadcastRight) broadcast(right) else right
    left.join(dim, left(fkCol) === dim(pkCol), "inner").drop(dim(pkCol))
  }

  /** OPT-IN shuffled-hash join with a SPILL-SAFETY guard — NOT the default
    * join path (that is plain sort-merge + AQE, which [[pkFkJoin]] and
    * `GraftSession`'s defaults already produce).
    *
    * Status after two rounds of measurement (BASELINE.md): at the
    * reference's SF=16 join shape the guarded SHJ LOSES to SMJ+AQE under
    * both 8 GiB (5.1–5.3 s vs 3.2–4.2 s) and 32 GiB heaps (judge: 10.9–12.2
    * s vs 4.0–8.3 s) — the explicit double repartition pins a partition
    * count AQE can neither coalesce nor serve through local shuffle
    * readers, and at sizes where that count exceeds the default the
    * exchange overhead exceeds SMJ's sort cost. SHJ only wins when the
    * per-task build genuinely fits at the DEFAULT partition count (the
    * SF≤4 shapes, where this method no longer repartitions at all). Use it
    * when the build side is known-bounded and a measured win exists at the
    * target size; otherwise let Catalyst pick.
    *
    * Guard mechanics: SHJ's hash-relation build cannot spill — an
    * unconditional SHUFFLE_HASH hint hard-fails ("Can't acquire … to build
    * hash relation") once per-task builds outgrow execution memory. The
    * failure is per-TASK, so the lever is the partition count:
    *  - if the estimated build fits at the session's default shuffle
    *    partitioning AND a fully-AQE-coalesced partition would still fit
    *    the per-task budget (advisory partition size × expansion ≤
    *    budget — AQE coalesces by shuffle-data size with no knowledge of
    *    hash-build memory, so an unguarded bare hint would let coalescing
    *    merge partitions until builds hard-fail), the join is hinted
    *    SHUFFLE_HASH with NO explicit repartition — AQE keeps its
    *    coalescing and local-reader optimizations (the only regime where
    *    SHJ has measured wins);
    *  - otherwise, up to `maxParts`, both sides are explicitly
    *    repartitioned (explicit counts are exempt from AQE coalescing) so
    *    `build bytes / partitions × hashExpansion` fits the per-task share
    *    of half the execution memory — slower than SMJ at every size
    *    measured, but never hard-fails;
    *  - beyond `maxParts` (mis-/un-estimated or enormous build): sort-merge,
    *    which spills at any size.
    *
    * The memory bound defaults to this JVM's heap (exact in local mode; on
    * a cluster pass the per-executor execution budget explicitly —
    * partitions land on executors, so the budget is per executor, not per
    * cluster).
    */
  def boundedHashJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      joinType: String = "inner",
      executionMemBytes: Long = (Runtime.getRuntime.maxMemory * 0.3).toLong,
      hashExpansion: Double = 4.0,
      maxParts: Int = 16384): DataFrame = {
    // the guard sizes and hints the RIGHT side as the hash-relation build;
    // join types where Spark cannot build right (right/full outer) would
    // silently drop the hint yet still pay the explicit repartitions —
    // all guard, no SHJ. Reject them up front.
    val buildRightTypes =
      Set("inner", "cross", "left", "leftouter", "left_outer",
        "leftsemi", "left_semi", "leftanti", "left_anti")
    require(buildRightTypes(joinType.toLowerCase.replace(" ", "")),
      s"boundedHashJoin: join type '$joinType' cannot build its hash " +
        "relation on the right side; use a plain sort-merge join")
    val sc = left.sparkSession.sparkContext
    val cores = math.max(1, sc.defaultParallelism)
    val defaultParts =
      left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val est = right.queryExecution.optimizedPlan.stats.sizeInBytes
    // per-task build budget: half the execution memory, shared by all
    // concurrently running tasks
    val perTask = BigInt(executionMemBytes) / (2L * cores) max BigInt(1)
    // expansion applied in double space: truncating the factor to a long
    // would turn e.g. 0.8 into 0 and silently disable the guard
    val expanded = BigDecimal(est) * hashExpansion
    val needed = (expanded.toBigInt + perTask - 1) / perTask
    // AQE coalesces partitions toward the advisory size knowing nothing of
    // hash-build memory; the bare hint is safe only if a coalesced-to-
    // advisory partition's build still fits the per-task budget
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      left.sparkSession.conf
        .get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    val coalesceSafe = BigDecimal(advisory) * hashExpansion <= BigDecimal(perTask)
    if (needed <= BigInt(defaultParts) && coalesceSafe)
      // fits at the session default: plain hint, AQE keeps all its levers
      left.join(right.hint("SHUFFLE_HASH"), left(leftKey) === right(rightKey), joinType)
    else if (needed <= BigInt(maxParts)) {
      // explicit count (exempt from AQE coalescing); floor at the session
      // default so a small `needed` never throttles parallelism
      val parts = (needed max BigInt(defaultParts)).toInt
      val l = left.repartition(parts, left(leftKey))
      val r = right.repartition(parts, right(rightKey))
      l.join(r.hint("SHUFFLE_HASH"), l(leftKey) === r(rightKey), joinType)
    } else
      left.join(right.hint("MERGE"), left(leftKey) === right(rightKey), joinType)
  }
}
