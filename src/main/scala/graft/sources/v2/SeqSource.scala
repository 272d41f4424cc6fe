package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownOffset, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportOrdering, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A full custom DataSourceV2 READ path — the connector seam itself,
  * exercised end to end (the reference's in-memory batch generator,
  * `host/testdata.cc`-style, expressed as a first-class Spark source
  * instead of `createDataFrame`): deterministic synthetic rows
  * `(id, mod7 = id % 7, cents = (id * 37) % 10000)` over `[0, n)`.
  *
  * What the seam must do at 100 TB, all implemented and plan-pinned:
  *  - **filter pushdown** ([[SupportsPushDownFilters]]): range/equality
  *    predicates on `id` FOLD INTO the generated range — the source
  *    never materializes out-of-range rows (the connector analog of
  *    partition pruning; consumed filters are removed from the plan, so
  *    no residual FilterExec re-checks them);
  *  - **column pruning** ([[SupportsPushDownRequiredColumns]]): only
  *    requested columns are computed per row;
  *  - **parallelism** (`slices` option → that many [[InputPartition]]s
  *    over the surviving range — empty slices are never planned);
  *  - **statistics** ([[SupportsReportStatistics]]): post-pushdown
  *    row/byte counts, so the planner's broadcast/AQE decisions see the
  *    PRUNED size, not the raw domain.
  *
  * Usage: `spark.read.format("graft.sources.v2.SeqSource")
  *   .option("n", 1000000).option("slices", 8).load()`.
  */
class SeqSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeqSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val n = Option(properties.get("n")).map(_.toLong).getOrElse(1000000L)
    // n is capped where the closed-form SUM(id) pushdown stays exact in
    // Long (ADVICE r14: above this the arithmetic-series product silently
    // overflowed instead of declining). sum([0, 2^32)) = 2^31 × (2^32 − 1)
    // is the largest any sub-range sum can reach, and it fits; a larger
    // domain fails HERE, loudly, not three operators later with a wrong
    // aggregate.
    require(n >= 0 && n <= (1L << 32),
      s"SeqSource n=$n out of [0, 2^32]: the closed-form SUM(id) pushdown " +
        "is only exact in Long up to that domain")
    val slices = Option(properties.get("slices")).map(_.toInt).getOrElse(8)
    // keyed=true lays the table out KEY-GROUPED on mod7 (one partition per
    // residue class, reported as KeyGroupedPartitioning) — the connector
    // declares its physical layout and Spark's storage-partitioned join
    // machinery exploits it (see SeqScan.outputPartitioning)
    val keyed = Option(properties.get("keyed")).exists(_.toBoolean)
    // the keyed layout's CLUSTER COUNT (default 7): the write-time knob a
    // real bucketed table sizes to its cluster — a storage-partitioned
    // join's parallelism equals this count, so scaling an SPJ past N
    // cores means MORE BUCKETS, not more cores (measured in BASELINE.md's
    // executor-width sweep). The key column is named `mod<buckets>`.
    val buckets = Option(properties.get("buckets")).map(_.toInt).getOrElse(7)
    require(buckets >= 1 && buckets <= 65536,
      s"SeqSource buckets=$buckets out of [1, 65536]")
    // streaming admission control: at most this many rows per micro-batch
    // (0 = all available in one batch)
    val maxPerBatch =
      Option(properties.get("maxRowsPerBatch")).map(_.toLong).getOrElse(0L)
    new SeqTable(n, slices, keyed, maxPerBatch, buckets)
  }
}

object SeqSource {
  def schema(buckets: Int): StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField(s"mod$buckets", LongType, nullable = false),
    StructField("cents", LongType, nullable = false)))
  val schema: StructType = schema(7)

  /** The row formula, shared by every reader (and mirrored arithmetically
    * by the DuckDB oracle). `mod<k>` columns evaluate `id % k` — the name
    * carries the modulus, so readers stay bucket-count-agnostic.
    */
  def colValue(name: String, id: Long): Long = name match {
    case "id" => id
    case "cents" => (id * 37) % 10000
    case m if m.startsWith("mod") => id % m.stripPrefix("mod").toLong
    case other => throw new IllegalArgumentException(s"no column $other")
  }
}

class SeqTable(
    n: Long, slices: Int, keyed: Boolean = false, maxPerBatch: Long = 0L,
    buckets: Int = 7)
    extends Table with SupportsRead {
  override def name(): String = s"graft_seq(n=$n)"
  override def schema(): StructType = SeqSource.schema(buckets)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqScanBuilder(n, slices, keyed, maxPerBatch, buckets)
}

class SeqScanBuilder(
    n: Long, slices: Int, keyed: Boolean = false, maxPerBatch: Long = 0L,
    buckets: Int = 7)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownTopN {
  private var lo = 0L
  private var hi = n // exclusive
  private var consumed: Array[Filter] = Array.empty
  private var required: StructType = SeqSource.schema
  private var aggFns: Option[Array[String]] = None
  private var orderedDesc: Option[Boolean] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (taken, residual) = filters.partition {
      case GreaterThan("id", v: Long) => { lo = math.max(lo, v + 1); true }
      case GreaterThanOrEqual("id", v: Long) => { lo = math.max(lo, v); true }
      case LessThan("id", v: Long) => { hi = math.min(hi, v); true }
      case LessThanOrEqual("id", v: Long) => { hi = math.min(hi, v + 1); true }
      case EqualTo("id", v: Long) =>
        { lo = math.max(lo, v); hi = math.min(hi, v + 1); true }
      case IsNotNull("id") => true // id is never null — consumed for free
      case _ => false // e.g. predicates on mod7/cents — evaluated post-scan
    }
    consumed = taken
    residual
  }
  override def pushedFilters(): Array[Filter] = consumed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- AGGREGATE pushdown: COUNT(*) / SUM / MIN / MAX over `id` have
  // CLOSED FORMS on a range — the source answers them in O(1) without
  // generating a single row (what a 100 TB source does with its own
  // zone-map/footer statistics). Complete pushdown: Spark plans NO
  // aggregate operator at all, just a project over the 1-row scan.
  private def isId(e: org.apache.spark.sql.connector.expressions.Expression)
      : Boolean = e match {
    case nr: NamedReference => nr.fieldNames.sameElements(Array("id"))
    case _ => false
  }
  private def fnOf(f: AggregateFunc): Option[String] = f match {
    case _: CountStar => Some("count")
    case s: Sum if !s.isDistinct && isId(s.column) => Some("sum")
    case m: Min if isId(m.column) => Some("min")
    case m: Max if isId(m.column) => Some("max")
    case _ => None // mod7/cents aggregates have no closed form — declined
  }
  private def handled(agg: Aggregation): Option[Array[String]] =
    if (agg.groupByExpressions.nonEmpty) None
    else {
      val fns = agg.aggregateExpressions.map(fnOf)
      if (fns.nonEmpty && fns.forall(_.isDefined)) Some(fns.map(_.get))
      else None
    }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    handled(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    handled(agg) match {
      case Some(fns) => aggFns = Some(fns); true
      case None => false
    }

  // ---- LIMIT / OFFSET / TopN pushdown: the generated sequence is
  // totally ordered by id, so all three are RANGE ARITHMETIC — limit
  // truncates the range end, offset advances the start, and an
  // ORDER BY id [DESC] LIMIT k is the first/last k of the (already
  // filter-folded) range. All COMPLETE (isPartiallyPushed = false): no
  // Limit, Offset, Sort or TakeOrdered operator survives in the plan.
  // TopN on any other ordering key (mod7/cents are not monotone in id)
  // is DECLINED and Spark keeps its own TakeOrdered.
  // In keyed mode the partitions are residue classes, not contiguous id
  // ranges — "first/last k of the range" arithmetic no longer describes
  // any single partition's emission order, so limit/offset/TopN are
  // DECLINED and Spark keeps its own operators (the decline leg).
  override def pushLimit(limit: Int): Boolean = {
    if (keyed) return false
    hi = math.min(hi, lo + limit); true
  }
  override def pushOffset(offset: Int): Boolean = {
    if (keyed) return false
    lo = math.min(lo + offset, hi); true
  }
  override def isPartiallyPushed(): Boolean = false
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean =
    orders match {
      case Array(o) if isId(o.expression) && !keyed =>
        if (o.direction == SortDirection.ASCENDING) {
          hi = math.min(hi, lo + limit)
          orderedDesc = Some(false)
        } else {
          lo = math.max(lo, hi - limit)
          orderedDesc = Some(true)
        }
        true
      case _ => false
    }

  override def build(): Scan = {
    val (l, h) = (math.max(lo, 0L), math.min(hi, n))
    aggFns match {
      case Some(fns) => SeqAggScan(l, h, fns)
      case None =>
        SeqScan(l, h, slices, required, orderedDesc, keyed, maxPerBatch,
          buckets)
    }
  }
}

/** The aggregate-pushdown scan: one partition, one row, closed-form
  * answers over `[lo, hi)` — `count = hi−lo`, `sum(id)` by the arithmetic
  * series, `min/max` the range ends (SQL-null on an empty range).
  */
case class SeqAggScan(lo: Long, hi: Long, fns: Array[String])
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    fns.zipWithIndex.map { case (f, i) =>
      StructField(s"${f}_$i", LongType, nullable = f != "count")
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"SeqAggScan(range=[$lo,$hi), aggs=${fns.mkString(",")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SeqRange(lo, hi))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      private val localFns = fns
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val r = p.asInstanceOf[SeqRange]
          private var emitted = false
          override def next(): Boolean = { val f = !emitted; emitted = true; f }
          override def get(): InternalRow = {
            val cnt = math.max(r.until - r.from, 0L)
            def closed(f: String): Any = f match {
              case "count" => cnt
              case _ if cnt == 0 => null // SQL aggregate over empty input
              case "sum" =>
                // halve the EVEN factor first: with n ≤ 2^32 the result
                // always fits in Long, but the naive (ends × cnt) / 2
                // intermediate product can reach 2^65
                val ends = r.from + r.until - 1
                if (cnt % 2 == 0) ends * (cnt / 2) else (ends / 2) * cnt
              case "min" => r.from
              case "max" => r.until - 1
            }
            new GenericInternalRow(localFns.map(closed))
          }
          override def close(): Unit = ()
        }
    }
}

case class SeqRange(from: Long, until: Long) extends InputPartition

/** A residue-class partition of the keyed layout: every id in `[from,
  * until)` with `id % 7 == k`. [[HasPartitionKey]] is the half of the
  * storage-partitioned-join contract the PARTITION carries — Spark groups
  * input partitions by this key row and lines them up against the other
  * side's groups, so two keyed tables join partition-to-partition with no
  * exchange (what co-partitioned Iceberg/Delta buckets do at 100 TB).
  */
case class SeqKeyRange(from: Long, until: Long, k: Int, buckets: Int = 7)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](k.toLong))
}

case class SeqScan(
    lo: Long, hi: Long, slices: Int, required: StructType,
    orderedDesc: Option[Boolean] = None, keyed: Boolean = false,
    maxPerBatch: Long = 0L, buckets: Int = 7)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering with SupportsReportPartitioning
    with SupportsReportOrdering {
  // STREAMING read half ([[TableCapability.MICRO_BATCH_READ]]): the same
  // pushed-down range, consumed as a sequence of micro-batches
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SeqMicroBatchStream(lo, hi, slices, required, maxPerBatch)

  // The keyed layout's ORDERING declaration ([[SupportsReportOrdering]]):
  // every partition is a single mod7 residue class, so each partition is
  // trivially sorted by mod7 — declaring it lets the planner DELETE the
  // per-partition sort under a storage-partitioned merge join (measured
  // 1.78 → ~broadcast-class in the `spj_keyed` leg of `Probe ops spj`).
  // Only valid (and only reported) in keyed mode with mod7 surviving
  // pruning.
  private def keyCol = s"mod$buckets"
  override def outputOrdering(): Array[SortOrder] =
    if (keyed && required.fieldNames.contains(keyCol))
      Array(Expressions.sort(
        Expressions.identity(keyCol), SortDirection.ASCENDING))
    else Array.empty
  // RUNTIME narrowing ([[SupportsRuntimeV2Filtering]], r14 verdict #4 —
  // the connector analog of the parquet path's DPP/bloom-semijoin rows):
  // when this scan is the fact side of a join whose dim side carries a
  // selective filter, Spark evaluates the dim's join keys FIRST and hands
  // them here as an IN predicate; the id range narrows and whole grid
  // cells below fall away before a single fact row is generated. The join
  // itself still verifies every surviving row, so range (min..max)
  // narrowing — the zone-map discipline — is sufficient, never wrong.
  @transient private var rlo = lo
  @transient private var rhi = hi
  // Only advertise `id` while it survives column pruning: Spark resolves
  // these references against the scan OUTPUT (PartitionPruning /
  // RowLevelOperationRuntimeGroupFiltering call V2ExpressionUtils
  // .resolveRefs on readSchema), so advertising a pruned-away column is
  // an analysis error, not a declined filter.
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains("id")) Array(Expressions.column("id"))
    else Array.empty
  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach { p =>
      val longs: Array[Long] = p.children().collect {
        case l: Literal[_] if l.value().isInstanceOf[java.lang.Long] =>
          l.value().asInstanceOf[java.lang.Long].longValue()
      }
      p.name() match {
        case "IN" | "=" if longs.nonEmpty =>
          rlo = math.max(rlo, longs.min)
          rhi = math.min(rhi, longs.max + 1)
        case _ => () // unrecognized runtime predicate: prune nothing
      }
    }
  // partition count as actually planned — rendered into the description
  // so the executed plan string carries the pruning evidence
  @transient private var plannedParts = -1
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // the plan string carries the folded range + surviving columns — what
  // PlanAuditSpec pins to prove the pushdown reached the source
  override def description(): String = {
    val ord = orderedDesc.map(d =>
      s", ordered=${if (d) "desc" else "asc"}").getOrElse("")
    val rt = if (rlo > lo || rhi < hi) s", runtime=[$rlo,$rhi)" else ""
    val parts = if (plannedParts >= 0) s", parts=$plannedParts" else ""
    val kd = if (keyed) s", keyed=$keyCol" else ""
    s"SeqScan(range=[$lo,$hi)$rt$parts$kd, cols=${required.fieldNames.mkString(",")}$ord)"
  }

  // The other half of the storage-partitioned-join contract, the SCAN's
  // declaration: the data is clustered by identity(mod7) across 7
  // partitions. Spark (with spark.sql.sources.v2.bucketing.enabled)
  // converts this to a catalyst KeyGroupedPartitioning, which satisfies
  // the aggregate's and join's ClusteredDistribution directly — no
  // shuffle is planned above the scan. Only reported when the pruned
  // schema still carries mod7 (the clustering column must be resolvable
  // against the scan output); otherwise the layout is opaque.
  override def outputPartitioning(): Partitioning =
    if (keyed && required.fieldNames.contains(keyCol))
      new KeyGroupedPartitioning(
        Array(Expressions.identity(keyCol)), buckets)
    else new UnknownPartitioning(math.max(slices, 1))
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = math.max(hi - lo, 0L)
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(rows * 8L * math.max(required.size, 1))
    override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
  }
  override def planInputPartitions(): Array[InputPartition] = {
    if (keyed) {
      // one partition per residue class, ALWAYS all `buckets` (an empty
      // class still plans its partition so both sides of a
      // storage-partitioned join expose identical key groups regardless
      // of their ranges)
      val parts = (0 until buckets)
        .map(k => SeqKeyRange(
          math.max(lo, rlo), math.min(hi, rhi), k, buckets))
        .toArray[InputPartition]
      plannedParts = parts.length
      return parts
    }
    val total = math.max(hi - lo, 0L)
    if (total == 0) { plannedParts = 0; return Array.empty }
    // a completely-pushed TopN must emit its rows IN ORDER — one
    // partition (the surviving range is at most the TopN limit anyway)
    val effSlices = if (orderedDesc.isDefined) 1 else slices
    val per = (total + effSlices - 1) / effSlices
    // the grid is laid over the STATIC range and cells are clipped to the
    // runtime range — cells wholly outside are PRUNED (fewer partitions =
    // fewer tasks), exactly how a partitioned table prunes directories
    val parts = (0 until effSlices).iterator
      .map(i => SeqRange(
        math.max(lo + i * per, rlo),
        math.min(math.min(lo + (i + 1) * per, hi), rhi)))
      .filter(r => r.until > r.from) // out-of-range slices never planned
      .toArray[InputPartition]
    plannedParts = parts.length
    parts
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SeqReaderFactory(required.fieldNames, orderedDesc.contains(true))
}

object SeqScan {
  /** The DEFAULT keyed layout's cluster count (the `buckets` option
    * overrides it per table — the write-time scale knob).
    */
  val Residues = 7
}

/** The position in the sequence: rows `[lo, pos)` have been emitted. */
case class SeqStreamOffset(pos: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"pos":$pos}"""
}

/** The connector's STREAMING read half — a [[MicroBatchStream]] over the
  * same deterministic sequence, with real offset bookkeeping (offsets are
  * positions in the sequence, serialized to the checkpoint's offset log)
  * and ADMISSION CONTROL ([[SupportsAdmissionControl]]): `maxRowsPerBatch`
  * bounds each micro-batch, so a catch-up from position 0 against a large
  * domain is a sequence of bounded batches instead of one giant one — the
  * same back-pressure contract Kafka's `maxOffsetsPerTrigger` implements,
  * and what keeps state-store update spikes bounded on a 1000-executor
  * streaming job. Trigger.AvailableNow drains the domain through that
  * limit and terminates.
  *
  * The batch/stream SPLIT point: the pushed-down range `[lo, hi)` (filter
  * pushdown happens at the ScanBuilder, shared with the batch path), so a
  * filtered readStream streams only the surviving range.
  */
class SeqMicroBatchStream(
    lo: Long, hi: Long, slices: Int, required: StructType, maxPerBatch: Long)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // Trigger.AvailableNow contract (without this the engine degrades to
  // Trigger.Once and IGNORES the read limit): fix the drain target when
  // the trigger starts. The domain is static, so the target is always hi.
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def initialOffset(): Offset = SeqStreamOffset(lo)
  override def deserializeOffset(json: String): Offset =
    SeqStreamOffset(""""pos":(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad offset $json")))

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerBatch > 0) ReadLimit.maxRows(maxPerBatch)
    else ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SeqStreamOffset].pos
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        from + r.maxRows()
      case _ => hi
    }
    SeqStreamOffset(math.min(hi, cap))
  }
  override def reportLatestOffset(): Offset = SeqStreamOffset(hi)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeqStreamOffset].pos
    val e = end.asInstanceOf[SeqStreamOffset].pos
    val total = math.max(e - s, 0L)
    if (total == 0) return Array.empty
    val parts = math.min(slices.toLong, total).toInt
    val step = (total + parts - 1) / parts
    (0 until parts).iterator
      .map(i => SeqRange(s + i * step, math.min(s + (i + 1) * step, e)))
      .filter(r => r.until > r.from)
      .toArray[InputPartition]
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SeqReaderFactory(required.fieldNames, desc = false)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class SeqReaderFactory(cols: Array[String], desc: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case kr: SeqKeyRange =>
        new PartitionReader[InternalRow] {
          // stride-`buckets` over [from, until): exactly the ids with
          // id % buckets == k. start = smallest id >= max(from, 0) in the
          // residue class; cur trails it by one stride so the first
          // next() lands on it
          private val stride = kr.buckets.toLong
          private var cur = {
            val base = math.max(kr.from, 0L)
            val rem = ((kr.k - base) % stride + stride) % stride
            base + rem - stride
          }
          override def next(): Boolean = {
            cur += stride; cur < kr.until
          }
          override def get(): InternalRow =
            new GenericInternalRow(
              cols.map(c => SeqSource.colValue(c, cur): Any))
          override def close(): Unit = ()
        }
      case r: SeqRange =>
        new PartitionReader[InternalRow] {
          private var cur = if (desc) r.until else r.from - 1
          override def next(): Boolean =
            if (desc) { cur -= 1; cur >= r.from }
            else { cur += 1; cur < r.until }
          override def get(): InternalRow =
            new GenericInternalRow(
              cols.map(c => SeqSource.colValue(c, cur): Any))
          override def close(): Unit = ()
        }
    }
}
