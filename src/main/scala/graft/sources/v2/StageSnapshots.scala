package graft.sources.v2

import java.io.File
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** SNAPSHOTS metadata table (Iceberg's `table$snapshots` /
  * Delta's `DESCRIBE HISTORY`, on the staging connector's own
  * metadata): `option("snapshots", "true")` resolves a staged table
  * path to one row per LIVE snapshot version — its commit time (null
  * for an untimed version: a crash between the manifest claim and the
  * commit-time append), file count, and what its commit CHANGED
  * (added/removed files, delete-vector delta files and rows), read from
  * each manifest's own change summary. `self_contained` is always TRUE
  * (every manifest this connector reads carries its summary; one
  * without fails the read loudly) and is kept for the row contract
  * readers select it by. This is the operability loop for the
  * maintenance tier: "which commit bloated the file count", "when did
  * the takedown land", "how much MOR debt did last night add" are one
  * metadata scan, zero data bytes.
  *
  * Scale shape: resolution is driver-side manifest metadata only
  * (O(live versions) reads, the history a vacuum keeps bounded) and the
  * row count IS the version count — the scan ships one small partition.
  */
object StageSnapshots {
  val OptionKey = "snapshots"

  val Schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at_millis", LongType, nullable = true),
    StructField("n_files", LongType, nullable = false),
    StructField("n_added", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false),
    StructField("n_dv_delta_files", LongType, nullable = false),
    StructField("n_dv_deleted_rows", LongType, nullable = false),
    StructField("self_contained", BooleanType, nullable = false)))

  /** One row per live version, computed driver-side from manifests. */
  def rows(path: String): Seq[Array[Any]] = {
    val times = StageSource.readCommitTimes(path)
    val resolver = new ChangeResolver(path)
    StageSource.manifestVersions(path).map { v =>
      val ch = resolver.changes(v)
      Array[Any](
        v.toLong,
        times.get(v).map(Long.box).orNull,
        // the manifest's own file count: a partition takedown physically
        // removes files that older live versions still list
        StageSource.readManifest(path, Some(v)).files.length.toLong,
        ch.added.size.toLong,
        ch.removed.size.toLong,
        ch.dvDeltas.count(_._2.nonEmpty).toLong,
        ch.dvDeltas.valuesIterator.map(_.length.toLong).sum,
        true)
    }
  }
}

case class StageSnapshotsPartition(rows: Seq[Array[Any]])
    extends InputPartition

class StageSnapshotsTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_stage_snapshots($path)"
  override def schema(): StructType = StageSnapshots.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = StageSnapshots.Schema
      override def toBatch: Batch = this
      override def description(): String = s"StageSnapshotsScan(path=$path)"
      override def planInputPartitions(): Array[InputPartition] =
        Array(StageSnapshotsPartition(StageSnapshots.rows(path)))
      override def createReaderFactory(): PartitionReaderFactory =
        (p: InputPartition) => new PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[StageSnapshotsPartition].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            cur = new GenericInternalRow(it.next())
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}
