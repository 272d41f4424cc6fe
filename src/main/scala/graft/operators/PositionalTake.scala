package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.plans.ColumnarCacheRead

/** Positional gather — `out[i] = values[indices[i]]` (ref
  * `dpu/shared/kernels/take.c:12-47`, `host/take/take_native.cc:18-38`).
  *
  * Spark has no positional-addressing operator, so take decomposes into
  * (1) assigning a dense global row index and (2) an equi-join of the
  * indices table against that index (SURVEY §2.1 #5). The join is the
  * gather; when the indices side is small it broadcasts, so the values
  * table is never shuffled — at 100 TB that is the only acceptable plan.
  *
  * Global indexing avoids the single-partition `Window.orderBy` trap: rows
  * are range-partitioned on the ordering key and sorted within partitions;
  * `monotonically_increasing_id` then yields a dense 0-based counter per
  * partition with NO further exchange, and the exclusive prefix sum of
  * partition sizes (a tiny numPartitions-row aggregate, broadcast back)
  * turns local counters into the global index — the DataFrame equivalent
  * of `RDD.zipWithIndex`, and of the reference's histogram → prefix-sum →
  * scatter pipeline (`dpu/shared/kernels/partition.c:67-137`).
  */
object PositionalTake {

  /** Adds `idxCol` = dense 0-based global row index in the total order of
    * `orderCols` (which must be a unique key for determinism).
    *
    * Implemented as `RDD.zipWithIndex` over ONE instantiation of the
    * range-partitioned sort. The previous two-pass DataFrame formulation
    * (per-partition counts aggregated in a second subtree, prefix-summed,
    * joined back on partition id) was subtly WRONG under the optimizer:
    * column pruning gave the counts subtree a narrower scan schema than
    * the main subtree, the two range exchanges then failed to canonicalize
    * equal (no ReuseExchange), and each exchange sampled its OWN range
    * boundaries (`RangePartitioner` seeds by RDD id) — so the offsets were
    * computed against one partitioning and applied to another, yielding
    * duplicate/gapped indexes (observed: an 11-bucket decile histogram).
    * `zipWithIndex` computes its size pass and its emit pass over the SAME
    * shuffle output (Spark reuses the shuffle files across the two jobs),
    * so the index is dense and consistent by construction, at any scale.
    *
    * Callers should project to the columns they need BEFORE indexing: the
    * RDD boundary is opaque to Catalyst, so pruning does not reach through
    * it.
    */
  def withGlobalIndex(df: DataFrame, orderCols: Seq[String], idxCol: String = "idx"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.JoinedRow
    import org.apache.spark.sql.types.{LongType, StructField}
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = df
      .repartitionByRange(n, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val outSchema = StructType(
      sorted.schema.fields :+ StructField(idxCol, LongType, nullable = false))
    val rdd = sorted.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
      val joined = new JoinedRow
      // the scan's UnsafeRow buffer is reused; copy on emit
      it.map { case (row, i) => joined(row, InternalRow(i)).copy() }
    }
    org.apache.spark.sql.graftshim.RddShim.internalCreateDataFrame(spark, rdd, outSchema)
  }

  /** The gather itself: for each row of `indices` (column `idxCol`), emit the
    * matching row of `indexedValues` (which must already carry `idxCol`,
    * e.g. from [[withGlobalIndex]]). Output columns: `idxCol` ++ value cols.
    *
    * By default the join strategy is left to Catalyst/AQE: when the index
    * list is broadcastable (the reference's shape — indices = ⅛ of values,
    * `host/take/take_benchmark.cc:139` — at moderate totals) AQE broadcasts
    * it at runtime and the values table never shuffles; when it is not
    * (⅛ of 100 TB is not broadcastable), the join degrades safely to a
    * shuffled hash join instead of OOMing the driver. Pass
    * `broadcastIndices = true` only when the caller KNOWS the index side
    * is small.
    */
  def take(
      indexedValues: DataFrame,
      indices: DataFrame,
      idxCol: String,
      broadcastIndices: Boolean = false): DataFrame = {
    val idx = if (broadcastIndices) broadcast(indices) else indices
    idx.join(indexedValues, Seq(idxCol), "inner")
  }

  /** SMALL-INDICES fast path: sequential merge gather against a sorted
    * index array held in driver/host memory — the faithful Spark analog of
    * the reference's `cp::Take(values, indices)`, whose selection vector IS
    * a ready in-memory array (`host/take/take_native.cc:18-38`). Measured
    * 4× faster than the broadcast-hash-join gather at the reference shape
    * (SF=16: 0.11 s vs 0.46 s — pyarrow-take parity), because a row costs
    * one pointer compare instead of a hash probe, and only matching rows
    * are copied.
    *
    * PRECONDITION: `indexedValues` rows must be ascending in `idxCol`
    * within every partition ([[withGlobalIndex]] output and cached
    * `spark.range`-derived tables qualify); each partition binary-searches
    * its own start, so partition ORDER is free. `sortedIndices` must be
    * ascending and distinct. Scale contract: the index array ships ONCE per
    * executor (broadcast); use [[take]] (the join gather) when the index
    * side is too large for executor memory — that is the 100 TB path, this
    * is the hot small-gather path.
    *
    * Where the values plan yields column batches (see [[MergeInput]]) the
    * merge walks each batch's `idxCol` vector and builds a row only for a
    * match; a cached 16 M-row input no longer becomes 16 M rows to keep 2 M.
    */
  def mergeTake(
      indexedValues: DataFrame,
      sortedIndices: Array[Long],
      idxCol: String = "idx"): DataFrame = {
    val spark = indexedValues.sparkSession
    val values = MergeInput(indexedValues, idxCol)
    val bc = spark.sparkContext.broadcast(sortedIndices)
    val rdd = values.rdd.mapPartitions(it => values.gather(it, bc.value))
    org.apache.spark.sql.graftshim.RddShim.internalCreateDataFrame(spark, rdd, values.schema)
  }

  /** DISTRIBUTED merge gather — the scale generalization of [[mergeTake]]
    * for index sides too large to broadcast (r14 verdict #5: the SF-sweep's
    * one super-linear knee was the join gather's 33.5M-key broadcast build
    * at SF=64). No broadcast, no hash probe, and the VALUES side never
    * shuffles:
    *
    *  1. a boundary pass reads the FIRST index of every values partition
    *     (lazy iterators: each partition is opened, one row or batch read,
    *     closed — not a scan) — a numPartitions-sized array on the driver,
    *     the same metadata a range-partitioned table keeps in its catalog;
    *  2. the INDICES (the smaller side, by the take contract) are
    *     range-shuffled to those boundaries as packed Array[Long] chunks —
    *     the only exchange in the whole gather — and each destination
    *     sorts its own chunk concatenation once;
    *  3. `zipPartitions` merges each values partition with its co-ranged
    *     sorted index array: one pointer compare per values row, matched
    *     rows copied, duplicates in the index list emit per occurrence
    *     (`cp::Take` gather-with-repetition semantics,
    *     `host/take/take_native.cc:18-38`).
    *
    * PRECONDITION: `indexedValues` ascending in `idxCol` within every
    * partition AND across partition order ([[withGlobalIndex]] output and
    * `spark.range`-derived tables qualify). At 100 TB: values stay where
    * they are, the index list pays one shuffle sized by ITS volume, and
    * per-partition memory is one row — nothing is built, broadcast, or
    * hashed.
    */
  def mergeTakeDist(
      indexedValues: DataFrame,
      indices: DataFrame,
      idxCol: String = "idx"): DataFrame = {
    val spark = indexedValues.sparkSession
    val values = MergeInput(indexedValues, idxCol)
    val schema = values.schema
    val nParts = values.rdd.getNumPartitions
    val firsts = values.rdd.mapPartitionsWithIndex { (pid, it) =>
      values.firstKey(it).iterator.map((pid, _))
    }.collect().sortBy(_._1)
    if (firsts.isEmpty)
      return org.apache.spark.sql.graftshim.RddShim.internalCreateDataFrame(
        spark, spark.sparkContext.emptyRDD, schema)
    val partIds = firsts.map(_._1)
    val bounds = firsts.map(_._2)
    // The index shuffle moves PACKED primitive chunks, not records: each
    // map task routes its indices into one Array[Long] buffer per target
    // partition and emits the buffers whole — ~(mapTasks × nParts) records
    // for the entire shuffle instead of one boxed tuple per index. A
    // record-per-index RDD shuffle (JavaSerializer + boxing) measured 6×
    // SLOWER than the broadcast join gather at SF=64; the packed shuffle
    // moves the same 8 B/index as raw array bytes.
    val identityPart = new org.apache.spark.Partitioner {
      override def numPartitions: Int = nParts
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val idxOrd = indices.schema.fieldIndex(idxCol)
    val nPartsLocal = nParts
    val packed = indices.queryExecution.toRdd.mapPartitions { it =>
      val bufs = Array.fill(nPartsLocal)(null: scala.collection.mutable.ArrayBuilder.ofLong)
      it.foreach { r =>
        val k = r.getLong(idxOrd)
        var p = java.util.Arrays.binarySearch(bounds, k)
        if (p < 0) p = -p - 2 // greatest first-index <= k
        // keys below the global minimum route to the first non-empty
        // partition, where the merge consumes them without emitting
        val target = partIds(math.max(p, 0))
        if (bufs(target) == null)
          bufs(target) = new scala.collection.mutable.ArrayBuilder.ofLong
        bufs(target) += k
      }
      Iterator.range(0, nPartsLocal)
        .filter(bufs(_) != null)
        .map(p => (p, bufs(p).result()))
    }.partitionBy(identityPart)
    val out = values.rdd.zipPartitions(packed) { (vit, chunks) =>
      // concatenate this partition's chunks and sort once — bounded by
      // the partition's own index mass, the merge's only buffer
      val arr = chunks.flatMap(_._2.iterator).toArray
      java.util.Arrays.sort(arr)
      values.gather(vit, arr)
    }
    org.apache.spark.sql.graftshim.RddShim.internalCreateDataFrame(spark, out, schema)
  }

  /** The values side of a merge gather. Its partitions are read as column
    * batches when the plan yields them without a row conversion — a
    * vectorized cached scan at the root, or the child of a `ColumnarToRow`
    * transition such as a vectorized parquet scan — and as rows otherwise
    * (e.g. the RDD-backed output of [[withGlobalIndex]]). `rdd` holds
    * `ColumnarBatch`es or `InternalRow`s accordingly.
    */
  private final class MergeInput(
      @transient val rdd: RDD[Any],
      val schema: StructType,
      ord: Int,
      columnar: Boolean) extends Serializable {

    /** The index of a partition's first row, if it has one. */
    def firstKey(it: Iterator[Any]): Option[Long] =
      if (columnar) it.map(_.asInstanceOf[ColumnarBatch]).find(_.numRows > 0)
        .map(_.column(ord).getLong(0))
      else it.nextOption().map(_.asInstanceOf[InternalRow].getLong(ord))

    /** The rows of one partition whose index occurs in `sorted`
      * (ascending), each once per occurrence (cp::Take's repetition).
      */
    def gather(it: Iterator[Any], sorted: Array[Long]): Iterator[InternalRow] = {
      val cur = new MergeCursor(sorted)
      // once the index array is drained, the partition's remaining rows
      // or batches are skipped without being read
      if (columnar) {
        val proj = UnsafeProjection.create(schema)
        it.map(_.asInstanceOf[ColumnarBatch]).takeWhile(_ => !cur.done).flatMap { b =>
          // matched rows are projected and copied before the next batch is
          // read: a vectorized parquet scan reuses its batch
          val keys = b.column(ord)
          val out = new ArrayBuffer[InternalRow]
          val n = b.numRows
          var i = 0
          while (i < n && !cur.done) {
            var k = cur.matches(keys.getLong(i))
            if (k > 0) {
              val row = proj(b.getRow(i)).copy()
              while (k > 0) { out += row; k -= 1 }
            }
            i += 1
          }
          out.iterator
        }
      } else
        it.map(_.asInstanceOf[InternalRow]).takeWhile(_ => !cur.done).flatMap { row =>
          val k = cur.matches(row.getLong(ord))
          // matched rows are copied out of the scan's reused buffer once,
          // shared across repeated indices; non-matches never allocate
          if (k == 0) Iterator.empty
          else {
            val c = row.copy()
            Iterator.fill(k)(c)
          }
        }
    }
  }

  private object MergeInput {
    def apply(df: DataFrame, idxCol: String): MergeInput = {
      val schema = df.schema
      val ord = schema.fieldIndex(idxCol)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      val batches = plan match {
        case WholeStageCodegenExec(ColumnarToRowExec(InputAdapter(c))) => Some(c)
        case ColumnarToRowExec(c) => Some(c)
        case c if ColumnarCacheRead.vectorCache(c) => Some(c)
        case _ => None
      }
      batches match {
        case Some(c) => new MergeInput(c.executeColumnar().asInstanceOf[RDD[Any]], schema, ord, true)
        case None => new MergeInput(df.queryExecution.toRdd.asInstanceOf[RDD[Any]], schema, ord, false)
      }
    }
  }

  /** One partition's walk of a sorted index array against the partition's
    * ascending row indices, the kernel both merge gathers share. The first
    * key seeks to its lower bound; after that the position only moves
    * forward, carried from row to row and across batch boundaries.
    */
  private final class MergeCursor(sorted: Array[Long]) {
    // -1 until the first key seeks; an empty array is done from the start
    private var p = if (sorted.isEmpty) 0 else -1

    def done: Boolean = p >= sorted.length

    /** How many times `key` occurs in the array; advances past them. */
    def matches(key: Long): Int = {
      if (p < 0) {
        var hi = sorted.length
        p = 0
        while (p < hi) {
          val mid = (p + hi) >>> 1
          if (sorted(mid) < key) p = mid + 1 else hi = mid
        }
      }
      while (p < sorted.length && sorted(p) < key) p += 1
      val from = p
      while (p < sorted.length && sorted(p) == key) p += 1
      p - from
    }
  }

  /** Convenience end-to-end: index `values` by `orderCols`, keep `valueCols`,
    * gather at `indices(idxCol)`.
    */
  def takeByPosition(
      values: DataFrame,
      orderCols: Seq[String],
      valueCols: Seq[String],
      indices: DataFrame,
      idxCol: String = "idx"): DataFrame = {
    // prune BEFORE indexing — the RDD boundary inside withGlobalIndex is
    // opaque to Catalyst, so the scan must be narrowed here
    val indexed = withGlobalIndex(
        values.select((orderCols ++ valueCols).distinct.map(col): _*),
        orderCols, idxCol)
      .select((idxCol +: valueCols).map(col): _*)
    take(indexed, indices, idxCol)
  }
}
