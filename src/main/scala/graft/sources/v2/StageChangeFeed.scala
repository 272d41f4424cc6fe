package graft.sources.v2

import java.io.File
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** CHANGE-DATA-FEED read of a staged table (r18 verdict #1: the
  * streaming tail refuses non-append changes by design and tells the
  * user to "consume a CDC view instead" — this is that view). Every row
  * the table's own history touched is emitted as a change record
  * `(data columns…, _change_type ∈ insert|delete, _commit_version)`,
  * derived from the per-version change summaries the manifests record:
  *
  *  - a file ADDED at version v → its rows (minus v's delete vectors,
  *    normally none) as `insert` records of v;
  *  - a delete-vector DELTA at v → exactly the newly deleted ordinals
  *    as `delete` records of v (merge-on-read DELETE, bounded by the
  *    commit's own delta);
  *  - a file REMOVED at v → its live rows as of v−1 as `delete`
  *    records of v — so a copy-on-write rewrite or a compaction surfaces
  *    as delete+insert (re-add), which downstream reconciliation
  *    collapses; a takedown's removed files have their BYTES destroyed,
  *    and a feed over such a version fails loudly naming the file.
  *
  * An UPDATE under either row-level mode is therefore delete+insert —
  * the Delta/Iceberg CDF contract without a separate pre/post-image
  * encoding. Batch reads take `changes.start-version`/`end-version`
  * (exclusive/inclusive); the micro-batch read shares the staged tail's
  * offsets, admission control and `Trigger.AvailableNow` pinning, but
  * CONSUMES non-append changes instead of refusing. Replaying inserts
  * applied minus deletes applied reconstructs any snapshot — spec-pinned
  * against a direct snapshot read and [[graft.operators.Changelog]]
  * reconstruction.
  *
  * Scale shape: resolution is driver-side metadata only — one manifest
  * per version in the range (self-contained summaries), change units
  * map 1:1 to input partitions (file-grain parallelism, the same unit as
  * the batch scan), and delete records for a MOR delete read only the
  * delta's ordinals, never rescan the table.
  */
object StageChangeFeed {
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val OptionKey = "read-change-feed"
  val StartKey = "changes.start-version"
  val EndKey = "changes.end-version"
  /** Timestamp forms of the range (epoch millis): resolved through the
    * commit-time ledger to "the snapshot current at that instant" —
    * `start-timestamp` excludes everything already committed then (a
    * start before the first recorded commit means the whole history),
    * `end-timestamp` includes through the snapshot current then. Tables
    * with any untimed live snapshot decline loudly, same as
    * TIMESTAMP AS OF.
    */
  val StartTsKey = "changes.start-timestamp"
  val EndTsKey = "changes.end-timestamp"

  val Insert = "insert"
  val Delete = "delete"

  /** Unit-key prefixes, chosen so a lexicographic sort orders a
    * version's units deletes-first (removed files, then DV deltas, then
    * added files) — consumers that apply records in feed order never see
    * an insert that an earlier same-version delete should have removed.
    */
  val RemovedUnit = "0R"
  val DvDeltaUnit = "1X"
  val AddedUnit = "2A"

  def parseKey(key: String): (String, String) =
    (key.substring(0, 2), key.substring(3))

  def withChangeCols(dataSchema: StructType): StructType = {
    require(!dataSchema.fieldNames.contains(TypeCol) &&
      !dataSchema.fieldNames.contains(VersionCol),
      s"$TypeCol / $VersionCol are reserved for the change-data-feed")
    StructType(dataSchema.fields ++ Seq(
      StructField(TypeCol, StringType, nullable = false),
      StructField(VersionCol, LongType, nullable = false)))
  }

  /** Strip the feed columns off a schema that arrived WITH them (the
    * provider's inferSchema→getTable round-trip).
    */
  def dataSchemaOf(schema: StructType): StructType =
    StructType(schema.fields.filterNot(f =>
      f.name == TypeCol || f.name == VersionCol))

}

/** Per-read resolver of version changes — memoizes manifest reads per
  * version INSIDE one scan/stream (never globally: a test or bench
  * re-staging the same path restarts version numbering, so a cross-query
  * cache could serve stale history).
  */
final class ChangeResolver(path: String) {
  import StageChangeFeed._

  private val changesMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, StageSource.VersionChanges]
  private val manifestMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, StageSource.Manifest]
  private val dvMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Array[Long]]]

  /** What version v changed, from the manifest's own change summary (a
    * manifest without one fails loudly, naming it).
    */
  def changes(v: Int): StageSource.VersionChanges =
    changesMemo.computeIfAbsent(v, _ =>
      StageSource.readManifest(path, Some(v)).changes.getOrElse(
        throw new IllegalStateException(s"manifest " +
          s"${new File(path, StageSource.manifestName(v))} has no change " +
          "summary (S line): its changes cannot be read")))

  private def manifest(v: Int): StageSource.Manifest =
    manifestMemo.computeIfAbsent(v, _ => StageSource.readManifest(path, Some(v)))

  private def dvAt(v: Int): Map[String, Array[Long]] =
    dvMemo.computeIfAbsent(v, _ => manifest(v).deletes(path))

  def unitKeysOf(v: Int): Seq[String] = {
    val ch = changes(v)
    val removed = ch.removed.toSet
    ch.removed.sorted.map(f => s"$RemovedUnit:$f") ++
      ch.dvDeltas.collect {
        case (f, d) if d.nonEmpty && !removed(f) => f
      }.toSeq.sorted.map(f => s"$DvDeltaUnit:$f") ++
      ch.added.sorted.map(f => s"$AddedUnit:$f")
  }

  def partitionFor(v: Int, key: String): StageChangePartition = {
    val (kind, f) = parseKey(key)
    val abs = new File(path, f).getAbsolutePath
    kind match {
      case AddedUnit =>
        StageChangePartition(abs, manifest(v).cols.getOrElse(f, -1),
          Insert, v, skips = dvAt(v).getOrElse(f, Array.empty[Long]), only = null)
      case DvDeltaUnit =>
        StageChangePartition(abs, manifest(v).cols.getOrElse(f, -1),
          Delete, v, skips = Array.empty, only = changes(v).dvDeltas(f))
      case RemovedUnit =>
        // pre-image: the file's live rows as of v−1 (its content is
        // immutable; only its delete-vector state was versioned)
        require(new File(path, f).exists(),
          s"change feed of $path at version $v needs removed file $f, " +
            "whose bytes were physically destroyed (takedown delete or " +
            "vacuum) — this version's changes are not reconstructible")
        StageChangePartition(abs, manifest(v - 1).cols.getOrElse(f, -1),
          Delete, v, skips = if (v <= 1) Array.empty[Long]
            else dvAt(v - 1).getOrElse(f, Array.empty[Long]),
          only = null)
      case other =>
        throw new IllegalStateException(s"unknown change-unit kind $other")
    }
  }
}

/** One change unit as an input partition: `only == null` emits every row
  * of the file except `skips` (insert / whole-file delete); a non-null
  * `only` emits exactly those ordinals (a merge-on-read delete's delta).
  */
case class StageChangePartition(
    file: String, ncols: Int, changeType: String, version: Int,
    skips: Array[Long], only: Array[Long])
    extends InputPartition

/** Wraps the standard file reader and appends the two feed columns; in
  * `only` mode it tracks raw file ordinals (the inner reader skips
  * nothing) and emits just the delta's rows.
  */
class StageChangeFeedReaderFactory(dataSchema: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[StageChangePartition]
    val inner = new StageReaderFactory(dataSchema, dataSchema).createReader(
      StageFilePartition(cp.file, cp.ncols,
        if (cp.only == null) cp.skips else Array.empty[Long]))
    val n = dataSchema.length
    val types = dataSchema.fields.map(_.dataType)
    val ct = UTF8String.fromString(cp.changeType)
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private var onlyIdx = 0
      private var pending: InternalRow = _
      override def next(): Boolean = {
        if (cp.only != null && onlyIdx >= cp.only.length) return false
        while (inner.next()) {
          pos += 1
          if (cp.only == null) { pending = project(inner.get()); return true }
          else if (cp.only(onlyIdx) == pos) {
            onlyIdx += 1; pending = project(inner.get()); return true
          }
        }
        false
      }
      override def get(): InternalRow = pending
      private def project(r: InternalRow): InternalRow = {
        val out = new GenericInternalRow(n + 2)
        var i = 0
        while (i < n) {
          out.update(i, if (r.isNullAt(i)) null else r.get(i, types(i)))
          i += 1
        }
        out.update(n, ct)
        out.setLong(n + 1, cp.version.toLong)
        out
      }
      override def close(): Unit = inner.close()
    }
  }
}

/** The table a `read-change-feed` load resolves to: the data schema plus
  * the two feed columns, batch + micro-batch readable, read-only (the
  * feed is a VIEW of history, not a writable surface).
  */
class StageChangeFeedTable(path: String, dataSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_stage_changes($path)"
  override def schema(): StructType =
    StageChangeFeed.withChangeCols(dataSchema)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => {
      import StageChangeFeed._
      // a timestamp bound resolves through the commit-time ledger to the
      // snapshot current at that instant; a start before the first
      // recorded commit floors to 0 (the whole history)
      def tsVersion(key: String, floorToZero: Boolean): Option[Int] =
        Option(options.get(key)).map(_.toLong).map { ms =>
          val first = StageSource.readCommitTimes(path).values.minOption
          if (floorToZero && first.exists(ms < _)) 0
          else StageSource.versionAsOfMillis(path, ms)
        }
      val sv = Option(options.get(StartKey)).map(_.toInt)
      val sts = tsVersion(StartTsKey, floorToZero = true)
      require(sv.isEmpty || sts.isEmpty,
        s"$StartKey and $StartTsKey are mutually exclusive")
      val ev = Option(options.get(EndKey)).map(_.toInt)
      val ets = tsVersion(EndTsKey, floorToZero = false)
      require(ev.isEmpty || ets.isEmpty,
        s"$EndKey and $EndTsKey are mutually exclusive")
      StageChangeFeedScan(path, dataSchema,
        sv.orElse(sts), ev.orElse(ets),
        maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        maxRowsPerTrigger = Option(options.get("maxRowsPerTrigger")).map(_.toLong),
        startVersion = Option(options.get("streaming.start-version")))
    }
}

/** Batch half: all changes in `(startVersion, endVersion]` (defaults: the
  * whole history up to the latest snapshot). Column pruning and filter
  * pushdown are deliberately absent — a feed consumer applies every
  * record, and file pruning by content would silently drop changes.
  */
case class StageChangeFeedScan(
    path: String, dataSchema: StructType,
    startVersion0: Option[Int], endVersion0: Option[Int],
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None,
    startVersion: Option[String] = None)
    extends Scan with Batch {
  // the end version is PINNED once per scan instance (the connector's
  // resolved-once rule, review r19: two scans of one feed DataFrame in
  // one query — inserts exceptAll deletes — must not see different
  // ceilings when a commit lands between their planInputPartitions)
  @transient private lazy val endV: Int =
    endVersion0.orElse(StageSource.latestVersion(path)).getOrElse(0)
  override def readSchema(): StructType =
    StageChangeFeed.withChangeCols(dataSchema)
  override def toBatch: Batch = this
  override def description(): String =
    s"StageChangeFeedScan(path=$path, " +
      s"versions=(${startVersion0.getOrElse(0)}, $endV])"
  override def planInputPartitions(): Array[InputPartition] = {
    val lo = startVersion0.getOrElse(0)
    require(lo <= endV,
      s"change-feed range is empty: start-version $lo > end-version $endV")
    val resolver = new ChangeResolver(path)
    ((lo + 1) to endV).flatMap { v =>
      resolver.unitKeysOf(v).map(k => resolver.partitionFor(v, k): InputPartition)
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new StageChangeFeedReaderFactory(dataSchema)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a batch-range ceiling has no streaming meaning — refuse it rather
    // than silently reading past it (review r19); the batch start maps
    // to the stream's start version (Delta's startingVersion idiom)
    require(endVersion0.isEmpty,
      s"${StageChangeFeed.EndKey} is a batch-read option — a streaming " +
        "change feed has no end version; drop the option or read batch")
    new StageMicroBatchStream(path, dataSchema, dataSchema,
      maxFilesPerTrigger, maxRowsPerTrigger,
      startVersion.orElse(startVersion0.map(_.toString)), changeFeed = true)
  }
}
