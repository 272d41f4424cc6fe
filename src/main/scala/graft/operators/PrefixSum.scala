package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segmented exclusive prefix sum — the distributed replacement for the
  * global `Window.orderBy(...)` running total, which moves EVERY row to
  * one task ("No Partition Defined for Window operation"). The reference
  * computes the same decomposition on-chip: per-partition histograms,
  * an exclusive prefix sum over the compact histogram table, then a
  * scatter with the carry added (`dpu/shared/kernels/partition.c:67-137`);
  * this is that pipeline for an ordered running sum.
  *
  * Contract: `bucketCol` must be a COMPACT segmentation of the total
  * order — monotone in it (b(x) ≤ b(y) whenever x ≤ y in `orderCols`
  * order) and with a bucket count bounded by something data-independent
  * (a value range over a fixed width, a day calendar), never by the row
  * count. The within-bucket running sum is then a bucket-PARTITIONED
  * window (scales out), and only the bucket TOTALS — KB-scale by the
  * contract — pass through the one unpartitioned carry window.
  *
  * Used by `catalog.Analytics.qRankTest` (fixed-width price buckets) and
  * mirrored by `qPeakConcurrency`'s per-day sweep; the plan-audit
  * allowlist entries cite this contract.
  */
object PrefixSum {

  /** Adds `outCol` = Σ `valueCol` over all rows STRICTLY BEFORE this row
    * in the total order (`bucketCol` asc, then `orderCols` asc).
    * `orderCols` MUST be a unique key within each bucket: the within-bucket
    * window uses a ROWS frame, so tied ordering keys would each see a
    * prefix that depends on their arbitrary physical order within the tie
    * group — nondeterministic across runs/partitionings. (RANGE-frame
    * "ties share one prefix" semantics would need a single numeric
    * ordering column; all current callers have a natural unique key, so
    * the contract is uniqueness rather than tie-group summing.)
    */
  def exclusive(
      df: DataFrame,
      bucketCol: Column,
      orderCols: Seq[Column],
      valueCol: Column,
      outCol: String): DataFrame = {
    val bucketed = df.withColumn("__psum_bucket", bucketCol)
    val within = Window.partitionBy(col("__psum_bucket"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryW = Window.orderBy(col("__psum_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bucketed.groupBy(col("__psum_bucket"))
      .agg(sum(valueCol).as("__psum_bt"))
      .select(col("__psum_bucket"),
        coalesce(sum(col("__psum_bt")).over(carryW), lit(0L))
          .as("__psum_carry"))
    bucketed
      .withColumn("__psum_in",
        coalesce(sum(valueCol).over(within), lit(0L)))
      .join(broadcast(carry), Seq("__psum_bucket"))
      .withColumn(outCol, col("__psum_carry") + col("__psum_in"))
      .drop("__psum_bucket", "__psum_in", "__psum_carry")
  }
}
