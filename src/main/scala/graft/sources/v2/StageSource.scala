package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, Predicate}
import org.apache.spark.sql.graftshim.V2ExprShim
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsOverwrite, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.catalog.SupportsDeleteV2
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITE half of the custom connector seam ([[SeqSource]] is the read
  * half): a writable staging table under a managed directory, with the
  * two-phase commit protocol a 1000-executor write needs (the reference's
  * sink is a first-class node — `host/filter/filter_native.cc:64-66` — and
  * this is its Spark-connector re-expression).
  *
  * Commit protocol (the part that matters at scale):
  *  - each task attempt streams rows to a UNIQUE temp file under
  *    `<path>/.staging/` — speculative or retried attempts can never
  *    collide, and a dead attempt leaves only garbage in `.staging/`;
  *  - task `commit()` seals the temp file and reports it in the
  *    [[WriterCommitMessage]] — nothing is visible yet;
  *  - job `commit(messages)` — driver-side, after EVERY task succeeded —
  *    moves exactly the reported files into the table root, persists the
  *    schema, and drops a `_SUCCESS` marker LAST, so readers either see
  *    the complete previous snapshot or the complete new one;
  *  - job `abort()` deletes the staging leftovers; the visible table is
  *    untouched.
  *  SaveMode.Overwrite arrives as [[SupportsTruncate]]: the truncate is
  *  deferred to job commit (delete-then-move under the same marker
  *  discipline), so a failed overwrite never destroys the old snapshot.
  *
  * Row format: a length-prefixed little binary framing (per row: one
  * null-bit byte per column, then each non-null value by type; strings as
  * UTF-8 length+bytes). Deliberately simple — the CONNECTOR seam (schema
  * negotiation, distributed two-phase commit, read-back with pruning) is
  * what this class exercises; columnar encodings are parquet's job and
  * the parquet sink is a separate, already-covered path.
  *
  * Usage: `df.write.format("graft.sources.v2.StageSource")
  *   .option("path", dir).mode("append"|"overwrite").save()`, read back
  * with the same format+path. Supported column types: long, int, double,
  * string, timestamp (epoch micros), decimal (exact unscaled bytes).
  */
class StageSource extends TableProvider {
  // writes hand the DataFrame's schema straight to getTable (no files to
  // infer from on first write)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = StageSource.pathOf(options.asScala.toMap.asJava)
    val f = new File(path, StageSource.SchemaFile)
    require(f.exists(),
      s"StageSource table at $path has no persisted schema — write first")
    val base = StructType.fromDDL(new String(
      java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
    // a change-data-feed read sees the data columns PLUS the two feed
    // columns — declared here so the analyzer resolves them like any
    // other scan output; a snapshots read sees the metadata schema
    if (options.getBoolean(StageSnapshots.OptionKey, false))
      StageSnapshots.Schema
    else if (options.getBoolean(StageChangeFeed.OptionKey, false))
      StageChangeFeed.withChangeCols(base)
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = StageSource.pathOf(properties)
    if (Option(properties.get(StageSnapshots.OptionKey)).exists(_.toBoolean)) {
      require(!Option(properties.get(StageChangeFeed.OptionKey))
        .exists(_.toBoolean),
        "options 'snapshots' and 'read-change-feed' are mutually exclusive")
      return new StageSnapshotsTable(path)
    }
    if (Option(properties.get(StageChangeFeed.OptionKey)).exists(_.toBoolean))
      // read-only view of the table's own history as change records; the
      // schema arrived from inferSchema WITH the feed columns
      return new StageChangeFeedTable(path, StageChangeFeed.dataSchemaOf(schema))
    schema.fields.foreach(f => require(
      StageSource.supported(f.dataType),
      s"StageSource does not support column type ${f.dataType} (${f.name})"))
    require(!schema.fieldNames.contains("__rows"),
      "__rows is reserved for the connector's row-count statistics")
    // identity partition columns, in precedence order: declared
    // transforms (catalog DDL) → the `partition_by` option (path-based
    // writes) → the table's persisted layout (reads of an existing
    // partitioned table)
    val partCols: Array[String] =
      if (partitioning.nonEmpty) partitioning.map { t =>
        V2ExprShim.identityColumn(t).getOrElse(throw new IllegalArgumentException(
          s"StageSource supports only identity partitioning, got $t"))
      }
      else Option(properties.get("partition_by"))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty))
        .getOrElse(StageSource.readPartCols(path))
    partCols.foreach(c => require(
      schema.fieldNames.contains(StageSource.specCol(c)),
      s"partition column $c not in schema ${schema.simpleString}"))
    new StageTable(path, schema, partCols,
      props = StageSource.readProps(path), pathRouted = true)
  }
}

object StageSource {
  val SchemaFile = "_schema.ddl"
  val SuccessFile = "_SUCCESS"
  val StatsFile = "_stats.tsv"
  /** Metadata column: committed file name (row lineage). */
  val FileCol = "_file"
  /** Metadata column: row ordinal within its file — with [[FileCol]] the
    * ROW ID of the merge-on-read delete contract (Iceberg's positional
    * delete coordinates).
    */
  val PosCol = "_pos"
  /** Persisted identity-partition column list (one name per line). */
  val PartColsFile = "_partcols.txt"
  /** Per-file partition value map: `file \t url-encoded-value[/value…]`. */
  val PartsFile = "_parts.tsv"

  /** Persisted table properties: `key \t value`, one per line, both
    * url-encoded (an empty value, or a tab/newline inside one, must not
    * corrupt the framing — a MatchError here would brick every
    * subsequent load of the table).
    */
  val PropsFile = "_props.tsv"

  def writeProps(path: String, props: Map[String, String]): Unit =
    java.nio.file.Files.write(
      new File(path, PropsFile).toPath,
      props.toSeq.sorted.map { case (k, v) =>
        java.net.URLEncoder.encode(k, StandardCharsets.UTF_8) + "\t" +
          java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
      }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit

  def readProps(path: String): Map[String, String] = {
    val f = new File(path, PropsFile)
    if (!f.exists()) return Map.empty
    new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        // indexOf, not split: a url-encoded value never contains a tab,
        // but an EMPTY value makes split() return one element
        val i = l.indexOf('\t')
        require(i >= 0, s"malformed property line in $path/$PropsFile: $l")
        java.net.URLDecoder.decode(l.take(i), StandardCharsets.UTF_8) ->
          java.net.URLDecoder.decode(l.drop(i + 1), StandardCharsets.UTF_8)
      }.toMap
  }
  /** Committed streaming epoch ids, one per line (the sink's exactly-once
    * ledger: a re-delivered epoch found here is skipped).
    */
  val EpochsFile = "_epochs.txt"

  /** Split a metadata line into exactly `n` tab-separated fields, failing
    * with an error that NAMES the file and the line (ADVICE r17 #4: a bare
    * `val Array(a, b) = split` throws an opaque MatchError on any
    * truncated or corrupt line — and like readProps, a parser failure
    * here would brick every subsequent load of the table, so it must be
    * diagnosable).
    */
  private def splitExact(src: File, l: String, n: Int): Array[String] = {
    val a = l.split('\t')
    require(a.length == n,
      s"malformed metadata line in $src (expected $n tab-separated " +
        s"fields, got ${a.length}): $l")
    a
  }

  /** Per-file STORED column count: `file \t ncols` — the schema-evolution
    * sidecar. The framing is positional, so a file written before an
    * `ALTER TABLE … ADD COLUMN` stores fewer columns than the current
    * schema; the reader decodes exactly the file's own columns and
    * null-fills the rest. Written at every commit; files from before
    * this sidecar existed are backfilled at ALTER time (when they all
    * still carry the pre-alter schema, the last moment that count is
    * knowable).
    */
  val ColsFile = "_cols.tsv"

  /** file name → stored column count (absent for legacy files, which
    * store the full current schema — ALTER backfills before evolving).
    */
  def readCols(path: String): Map[String, Int] = {
    val f = new File(path, ColsFile)
    if (!f.exists()) return Map.empty
    new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(file, n) = splitExact(f, l, 2); file -> n.toInt
      }.toMap
  }

  /** Snapshot manifest name for version N: the exact file list of that
    * snapshot, one name per line. Every commit writes the next version;
    * readers resolve a version's manifest instead of listing the
    * directory, which is what makes overwrite LOGICAL (the old snapshot's
    * files stay on disk, still readable via `version_as_of`) and reads
    * immune to concurrent commits.
    */
  def manifestName(v: Int): String = s"_v$v.manifest"
  private val ManifestRe = "_v(\\d+)\\.manifest".r

  /** Positional DELETE VECTORS ride the manifest as `D\tfile\tpos` lines
    * (merge-on-read deletes, Iceberg's positional-delete contract): a
    * selective DELETE on a MOR table writes these entries instead of
    * rewriting whole files, readers skip the listed row ordinals, and
    * [[compact]] rewrites lazily. Living INSIDE the manifest keeps the
    * commit single-file-atomic under the CREATE_NEW claim — a reader can
    * never see a snapshot's file list without its delete state. Each
    * version's lines are CUMULATIVE (carry-forward happens at commit;
    * a replaced or dropped file's entries drop with it), so resolving a
    * version needs exactly one manifest read — including old versions
    * under time travel.
    */
  private val DeleteLineTag = "D\t"

  def deleteLine(file: String, pos: Long): String =
    s"$DeleteLineTag$file\t$pos"

  def isDeleteLine(l: String): Boolean = l.startsWith(DeleteLineTag)

  /** Scale-bounded delete-vector encoding (r17 verdict #1): the per-row
    * `D\t` lines above are CUMULATIVE — after N accumulated row deletes
    * every commit (including unrelated appends) rewrote and every plan
    * read O(N) manifest bytes driver-side, the exact O(total-state) term
    * the rest of the engine avoids. New commits instead write each dirty
    * file's complete vector ONCE into an immutable, CONTENT-ADDRESSED
    * sidecar (`_dv-<md5>.bin`, run-length coded — sorted ordinals
    * compress brutally) and the manifest carries one `V\tfile\tdvName`
    * REFERENCE line per dirty file. Carry-forward copies the reference,
    * not the rows: an unrelated append re-writes O(dirty files) manifest
    * bytes and ZERO vector bytes (unchanged vectors re-reference the
    * same sidecar by hash — content addressing makes the write
    * idempotent under races and retries, and old snapshot versions keep
    * resolving because no sidecar is ever mutated). Commit atomicity is
    * unchanged: sidecars are written BEFORE the manifest claim and are
    * invisible until a claimed manifest references them — the claim
    * stays single-file CREATE_NEW. Legacy `D\t` manifests stay readable;
    * the first commit after upgrade migrates them to references.
    */
  private val DvRefTag = "V\t"

  def dvRefLine(file: String, dv: String): String = s"$DvRefTag$file\t$dv"

  def isDvRefLine(l: String): Boolean = l.startsWith(DvRefTag)

  /** Run-length encode a sorted, distinct ordinal vector: runCount, then
    * (start, length) pairs. A contiguous span of deleted rows — the
    * common shape under range predicates and compaction debt — costs 16
    * bytes regardless of its row count.
    */
  def encodeDv(sorted: Array[Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    var runs = 0
    var i = 0
    // first pass counts runs; second writes (vector sizes are bounded by
    // a file's row count, so two passes beat buffering run pairs)
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && sorted(j) == sorted(j - 1) + 1) j += 1
      runs += 1; i = j
    }
    out.writeInt(runs)
    i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && sorted(j) == sorted(j - 1) + 1) j += 1
      out.writeLong(sorted(i)); out.writeLong(j - i)
      i = j
    }
    out.flush()
    bos.toByteArray
  }

  def decodeDv(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val runs = in.readInt()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var r = 0
    while (r < runs) {
      val start = in.readLong(); val len = in.readLong()
      var k = 0L
      while (k < len) { buf += start + k; k += 1 }
      r += 1
    }
    buf.toArray
  }

  /** Persist one file's complete vector as an immutable content-addressed
    * sidecar; returns its name. Idempotent: the same vector always maps
    * to the same name, and an existing sidecar with that name already
    * holds these exact bytes (so a concurrent writer racing on the same
    * content is harmless — CREATE_NEW losing means the content is
    * already there).
    */
  def writeDvFile(path: String, sorted: Array[Long]): String = {
    val bytes = encodeDv(sorted)
    val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val name = "_dv-" + md.map("%02x".format(_)).mkString + ".bin"
    val f = new File(path, name)
    if (!f.exists()) {
      try java.nio.file.Files.write(f.toPath, bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW): Unit
      catch {
        case _: java.nio.file.FileAlreadyExistsException => () // same content
      }
    }
    name
  }

  /** Decode one delete-vector sidecar. A missing sidecar referenced by a
    * live manifest means the snapshot is no longer reconstructible (a
    * vacuum raced or bytes were lost) — fail loudly, never read the file
    * as undeleted.
    */
  def loadDv(path: String, name: String): Array[Long] = {
    val f = new File(path, name)
    require(f.exists(),
      s"delete-vector sidecar $name referenced by a manifest of $path is " +
        "missing — this snapshot is no longer reconstructible")
    decodeDv(java.nio.file.Files.readAllBytes(f.toPath))
  }

  /** file name → delete-vector sidecar name for snapshot `v` (latest when
    * None): the manifest's `V\t` reference lines. Carry-forward copies
    * these references verbatim — no vector is decoded or re-encoded on
    * the commit path of a file whose deletes didn't change.
    */
  def readDvRefs(path: String, v: Option[Int]): Map[String, String] = {
    val version = v.orElse(latestVersion(path)).getOrElse(return Map.empty)
    val mf = new File(path, manifestName(version))
    if (!mf.exists()) return Map.empty
    new String(java.nio.file.Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(isDvRefLine).map { l =>
        val Array(_, f, dv) = splitExact(mf, l, 3); f -> dv
      }.toMap
  }

  /** Legacy per-row `D\t` vectors of snapshot `v` (pre-r18 manifests
    * only — new commits write `V\t` references instead, migrating these
    * on first touch).
    */
  def readLegacyDeletes(path: String, v: Option[Int]): Map[String, Array[Long]] = {
    val version = v.orElse(latestVersion(path)).getOrElse(return Map.empty)
    val mf = new File(path, manifestName(version))
    if (!mf.exists()) return Map.empty
    new String(java.nio.file.Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(isDeleteLine).toSeq
      .map { l => val Array(_, f, p) = splitExact(mf, l, 3); (f, p.toLong) }
      .groupBy(_._1)
      .map { case (f, ps) => f -> ps.map(_._2).distinct.sorted.toArray }
  }

  /** SELF-CONTAINED per-version change summary (r18 ADVICE #1/#3): each
    * manifest additionally records what its OWN commit changed —
    * `S\t<nAdded>\t<nRemoved>` marks the manifest as self-describing,
    * `A\tfile` lists the files this commit ADDED, `R\tfile` the files it
    * REMOVED from the snapshot, and `X\tfile\t<base64 run-length
    * ordinals>` the delete-vector DELTA it recorded per file (the newly
    * deleted ordinals only — inline, not a sidecar, and proportional to
    * THIS commit's delta, the same bounded-commit-bytes contract as the
    * V-references). Readers that need "what changed at version v" — the
    * streaming tail and the change-data-feed — read ONE manifest instead
    * of diffing v against v-1, so a retention-window vacuum that expired
    * v-1 no longer kills a tail whose unconsumed data is entirely inside
    * the window, and a long drain's planning is O(versions in range),
    * not O(history²). Pre-r19 manifests carry no S-line; change readers
    * fall back to the two-manifest diff for exactly those versions.
    */
  private val SummaryLineTag = "S\t"
  private val AddLineTag = "A\t"
  private val RemoveLineTag = "R\t"
  private val DvDeltaLineTag = "X\t"

  def summaryLine(nAdded: Int, nRemoved: Int, nDeltas: Int): String =
    s"$SummaryLineTag$nAdded\t$nRemoved\t$nDeltas"
  def addLine(file: String): String = s"$AddLineTag$file"
  def removeLine(file: String): String = s"$RemoveLineTag$file"
  def dvDeltaLine(file: String, sorted: Array[Long]): String =
    s"$DvDeltaLineTag$file\t" +
      java.util.Base64.getEncoder.encodeToString(encodeDv(sorted))

  /** What one commit changed, as recorded by its own manifest. */
  final case class VersionChanges(
      added: Seq[String], removed: Seq[String],
      dvDeltas: Map[String, Array[Long]])

  /** The change-summary lines every manifest writer appends — kept in one
    * place so the three commit sites (job commit, partition takedown,
    * ALTER backfill) can never drift in format.
    */
  def changeLines(
      added: Seq[String], removed: Seq[String],
      dvDeltas: Map[String, Array[Long]]): Seq[String] = {
    val deltaLines = dvDeltas.toSeq.sortBy(_._1).collect {
      case (f, d) if d.nonEmpty => dvDeltaLine(f, d)
    }
    summaryLine(added.size, removed.size, deltaLines.size) +:
      (added.map(addLine) ++ removed.map(removeLine) ++ deltaLines)
  }

  /** The changes manifest `v` recorded about its own commit; None for a
    * pre-r19 manifest (no S-line), where callers must fall back to
    * diffing snapshots v-1 and v. A missing manifest fails loudly — the
    * version was expired by a vacuum and its per-version attribution is
    * gone.
    */
  def readChanges(path: String, v: Int): Option[VersionChanges] = {
    val mf = new File(path, manifestName(v))
    require(mf.exists(),
      s"StageSource table at $path has no snapshot version $v " +
        s"(available: ${manifestVersions(path).mkString(",")}) — it was " +
        "expired by a vacuum")
    val lines = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSeq
    val summary = lines.find(_.startsWith(SummaryLineTag))
      .getOrElse(return None)
    val added = lines.filter(_.startsWith(AddLineTag))
      .map(l => splitExact(mf, l, 2)(1))
    val removed = lines.filter(_.startsWith(RemoveLineTag))
      .map(l => splitExact(mf, l, 2)(1))
    val deltas = lines.filter(_.startsWith(DvDeltaLineTag)).map { l =>
      val Array(_, f, b64) = splitExact(mf, l, 3)
      f -> decodeDv(java.util.Base64.getDecoder.decode(b64))
    }.toMap
    // the summary counts double as a torn-write check — INCLUDING the
    // X lines (review r19: changeLines writes them last, so a truncated
    // manifest loses them first, and a feed that silently dropped a
    // version's delete records would resurrect deleted rows on replay).
    // Early-r19 manifests wrote a 3-field summary (no delta count); they
    // also predate any X line, so the two-field check suffices there.
    val s = summary.split('\t')
    require(s.length == 3 || s.length == 4,
      s"malformed summary line in $mf: $summary")
    require(added.size == s(1).toInt && removed.size == s(2).toInt &&
      (s.length < 4 || deltas.size == s(3).toInt),
      s"manifest ${mf.getName} of $path is corrupt: summary says " +
        s"${s.drop(1).mkString("/")} (added/removed/deltas), found " +
        s"${added.size} / ${removed.size} / ${deltas.size}")
    Some(VersionChanges(added, removed, deltas))
  }

  /** Stored-column-count lines (`C\tfile\tncols`) ride the manifest too:
    * a lost count doesn't merely disable an optimization like a lost
    * stats line — it makes the reader MISDECODE an evolved table's old
    * files — so the count must be claim-atomic with the snapshot, not
    * subject to the sidecars' documented lossy cross-process rewrite.
    * `_cols.tsv` remains a fallback (pre-r17 tables, and the ALTER
    * backfill's belt-and-braces copy).
    */
  private val ColsLineTag = "C\t"

  def colsLine(file: String, ncols: Int): String = s"$ColsLineTag$file\t$ncols"

  def isColsLine(l: String): Boolean = l.startsWith(ColsLineTag)

  /** Any non-data line of a manifest (data file names never contain a
    * tab).
    */
  def isMetaLine(l: String): Boolean = l.contains('\t')

  /** file name → stored column count for snapshot `v` (latest when
    * None): manifest C-lines first (claim-atomic), `_cols.tsv` fallback
    * for files without one. Files absent from both store the full
    * current schema (pre-evolution tables — ALTER backfills before the
    * first evolution).
    */
  def readColsAt(path: String, v: Option[Int]): Map[String, Int] = {
    val sidecar = readCols(path)
    val version = v.orElse(latestVersion(path)).getOrElse(return sidecar)
    val mf = new File(path, manifestName(version))
    if (!mf.exists()) return sidecar
    val manifest = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(isColsLine).map { l =>
        val Array(_, f, n) = splitExact(mf, l, 3); f -> n.toInt
      }.toMap
    sidecar ++ manifest // manifest wins
  }

  /** The delete vectors of snapshot `v` (latest when None): file name →
    * sorted deleted row ordinals. Resolves both encodings — `V\t`
    * sidecar references (the bounded encoding) and legacy per-row `D\t`
    * lines — unioned per file (a file never carries both after one
    * post-upgrade commit, but a mixed manifest must still read right).
    */
  def readDeletes(path: String, v: Option[Int]): Map[String, Array[Long]] = {
    val legacy = readLegacyDeletes(path, v)
    val refs = readDvRefs(path, v)
    if (refs.isEmpty) return legacy
    (legacy.keySet ++ refs.keySet).iterator.map { f =>
      f -> (legacy.getOrElse(f, Array.empty[Long]) ++
        refs.get(f).map(loadDv(path, _)).getOrElse(Array.empty[Long]))
        .distinct.sorted
    }.toMap
  }

  /** Commit-time ledger: `version \t epochMillis`, one line per snapshot,
    * appended when the version's manifest is claimed — what `TIMESTAMP AS
    * OF` resolves against (Iceberg's snapshot-timestamp contract).
    * Pre-feature manifests have no line and timestamp travel to them is
    * DECLINED loudly, never guessed.
    */
  val CommitsFile = "_commits.tsv"

  def recordCommitTime(path: String, v: Int): Unit =
    java.nio.file.Files.write(
      new File(path, CommitsFile).toPath,
      s"$v\t${System.currentTimeMillis()}\n".getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND): Unit

  /** version → commit epoch millis (absent for pre-feature versions). */
  def readCommitTimes(path: String): Map[Int, Long] = {
    val f = new File(path, CommitsFile)
    if (!f.exists()) return Map.empty
    new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(v, t) = splitExact(f, l, 2); v.toInt -> t.toLong
      }.toMap
  }

  /** Resolve `TIMESTAMP AS OF` to a snapshot version: the LATEST version
    * whose commit time is ≤ the asked instant (the snapshot that was
    * current then). Fails loudly when the instant predates the first
    * recorded commit, and when any live version carries no commit time
    * (a pre-feature manifest makes the answer ambiguous — resolving
    * around it could silently time-travel to the wrong snapshot).
    */
  def versionAsOfMillis(path: String, millis: Long): Int = {
    val versions = manifestVersions(path)
    require(versions.nonEmpty, s"StageSource table at $path has no snapshots")
    val times = readCommitTimes(path)
    val untimed = versions.filterNot(times.contains)
    require(untimed.isEmpty,
      s"snapshot version(s) ${untimed.mkString(",")} of $path predate " +
        "commit-time recording — TIMESTAMP AS OF is only decidable on " +
        "tables whose every live snapshot carries a commit time; use " +
        "VERSION AS OF instead")
    val at = versions.filter(v => times(v) <= millis)
    require(at.nonEmpty,
      s"no snapshot of $path existed at epoch-millis $millis " +
        s"(first commit: ${times(versions.head)})")
    at.max
  }

  /** All manifest versions present, ascending. */
  def manifestVersions(path: String): Seq[Int] = {
    val fs = new File(path).listFiles()
    if (fs == null) Seq.empty
    else fs.flatMap(f => ManifestRe.findFirstMatchIn(f.getName)
      .map(_.group(1).toInt)).toSeq.sorted
  }

  def latestVersion(path: String): Option[Int] =
    manifestVersions(path).lastOption

  /** The file list of snapshot `v` (or the latest when None). Legacy
    * tables without manifests fall back to the directory listing. A
    * version whose files were physically removed (takedown delete,
    * vacuum) fails loudly rather than returning a partial snapshot.
    */
  def snapshotFiles(path: String, v: Option[Int]): Array[File] = {
    val version = v.orElse(latestVersion(path)) match {
      case None => return dataFiles(path) // legacy: no manifests yet
      case Some(x) => x
    }
    val mf = new File(path, manifestName(version))
    require(mf.exists(),
      s"StageSource table at $path has no snapshot version $version " +
        s"(available: ${manifestVersions(path).mkString(",")})")
    val names = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(l => l.nonEmpty && !isMetaLine(l)).toArray
    names.map { n =>
      val f = new File(path, n)
      require(f.exists(),
        s"snapshot version $version of $path references $n, which was " +
          "physically removed (takedown delete or vacuum) — this version " +
          "is no longer reconstructible")
      f
    }
  }

  /** Repay the merge-on-read debt: rewrite ONLY the files carrying
    * delete vectors (decode, drop the deleted ordinals, re-commit
    * through the standard two-phase protocol with full conflict
    * validation — `replaceFiles` + `expectDvs`), producing a snapshot
    * with the same content and no vectors. Iceberg's
    * `rewrite_data_files` scoped to the dirty set; clean files are
    * never touched. Runs driver-side file-at-a-time (each file is one
    * writer task's output, bounded by construction) — a distributed
    * variant would read with a `_file IN (dirty)` filter and write
    * through the same replaceFiles commit.
    */
  def compact(path: String): Unit = compact(path, None)

  /** [[compact]] scoped to `only` (names of files to rewrite; None = every
    * file carrying vectors) — the unit the threshold policy
    * ([[maintain]]) prices file-by-file.
    */
  def compact(path: String, only: Option[Set[String]]): Unit = {
    val schemaFile = new File(path, SchemaFile)
    require(schemaFile.exists(),
      s"StageSource table at $path has no persisted schema")
    val schema = StructType.fromDDL(new String(
      java.nio.file.Files.readAllBytes(schemaFile.toPath), StandardCharsets.UTF_8))
    val partCols = readPartCols(path)
    val dvs = only.fold(readDeletes(path, None))(s =>
      readDeletes(path, None).filter { case (f, _) => s(f) })
    if (dvs.isEmpty) return // nothing to repay
    val cols = readColsAt(path, None)
    val qid = "compact-" + java.util.UUID.randomUUID().toString.take(8)
    val writer = new StageDataWriter(path, schema, qid, 0, 0L, partCols)
    val factory = new StageReaderFactory(schema, schema)
    dvs.keys.toSeq.sorted.foreach { name =>
      val f = new File(path, name)
      val reader = factory.createReader(StageFilePartition(
        f.getAbsolutePath, cols.getOrElse(name, -1), dvs(name)))
      while (reader.next()) writer.write(reader.get())
      reader.close()
    }
    StageCommitter.commit(path, schema, partCols, qid,
      Array(writer.commit()), truncate = false, epoch = None,
      replaceFiles = Some(dvs.keySet),
      expectDvs = Some(dvs.map { case (k, v) => k -> v.toSet }))
  }

  /** The table-property key [[maintain]] reads its trigger from: the
    * delete-vector fraction (deleted rows / file rows) above which a
    * file's merge-on-read debt is repaid by compaction.
    */
  val CompactDvThresholdProp = "compact.dv-threshold"

  /** The table-property key for [[maintain]]'s small-file arm: data
    * files under this byte size are bin-packed per partition value.
    */
  val CompactTargetBytesProp = "compact.target-file-bytes"

  /** SMALL-FILE BIN-PACKING (r18 verdict #2: `maintain` repaid only DV
    * debt, so a table fed by `maxFilesPerTrigger=1` streaming writes
    * grew one file per epoch forever — manifest lines, per-file tasks
    * and sidecar entries all O(files)): coalesce live files smaller than
    * `targetBytes`, greedy first-fit per PARTITION VALUE (a bin never
    * mixes partition values — the committed one-value-per-file layout
    * law survives), each bin rewritten into one file through the
    * standard two-phase commit with `replaceFiles`+`expectDvs` conflict
    * validation — claim-atomic, and any delete-vector debt on a binned
    * file is repaid by the same rewrite. Lone small files stay put (a
    * 1-file bin buys nothing), files at or above the target are never
    * touched. Like any rewrite this is a NON-APPEND change: a plain
    * streaming tail over the table refuses at the compaction version —
    * consumers follow the change-data-feed (where the rewrite nets to
    * zero) or re-stream, by design.
    */
  def binpack(path: String, targetBytes: Long): Unit = {
    require(targetBytes > 0,
      s"$CompactTargetBytesProp must be positive, got $targetBytes")
    val schemaFile = new File(path, SchemaFile)
    require(schemaFile.exists(),
      s"StageSource table at $path has no persisted schema")
    val schema = StructType.fromDDL(new String(
      java.nio.file.Files.readAllBytes(schemaFile.toPath), StandardCharsets.UTF_8))
    val partCols = readPartCols(path)
    val parts = readParts(path)
    val small = snapshotFiles(path, None).filter(_.length < targetBytes)
    val bins = small
      .groupBy(f => parts.get(f.getName).map(_.mkString("/")).getOrElse(""))
      .toSeq.sortBy(_._1)
      .flatMap { case (_, fs) =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[Seq[File]]
        var cur = Seq.empty[File]
        var bytes = 0L
        fs.sortBy(_.getName).foreach { f =>
          if (cur.nonEmpty && bytes + f.length > targetBytes) {
            out += cur; cur = Seq.empty; bytes = 0L
          }
          cur :+= f; bytes += f.length
        }
        if (cur.nonEmpty) out += cur
        out.filter(_.length >= 2)
      }
    if (bins.isEmpty) return
    val dvs = readDeletes(path, None)
    val cols = readColsAt(path, None)
    val qid = "binpack-" + java.util.UUID.randomUUID().toString.take(8)
    val factory = new StageReaderFactory(schema, schema)
    // one writer per bin → exactly one committed file per bin (the
    // writer sinks per partition value; a bin holds one value). Driver-
    // side file-at-a-time like compact(): each bin is one writer task's
    // worth of data by construction — a distributed variant would read
    // with `_file IN (bin)` and commit through the same path.
    val messages = bins.zipWithIndex.map { case (bin, i) =>
      val writer = new StageDataWriter(path, schema, qid, i, i.toLong, partCols)
      bin.foreach { f =>
        val reader = factory.createReader(StageFilePartition(
          f.getAbsolutePath, cols.getOrElse(f.getName, -1),
          dvs.getOrElse(f.getName, Array.empty[Long])))
        while (reader.next()) writer.write(reader.get())
        reader.close()
      }
      writer.commit(): WriterCommitMessage
    }
    val binned = bins.flatten.map(_.getName).toSet
    StageCommitter.commit(path, schema, partCols, qid, messages.toArray,
      truncate = false, epoch = None,
      replaceFiles = Some(binned),
      expectDvs = Some(binned.iterator.map(f =>
        f -> dvs.getOrElse(f, Array.empty[Long]).toSet).toMap))
  }

  /** AUTO-COMPACTION policy (r17 verdict #4 — compaction existed but was
    * caller-invoked; a 100 TB table needs a trigger), two independently
    * opted-into arms, each a table property:
    *
    *  - `compact.dv-threshold`: rewrite exactly the files whose
    *    delete-vector fraction exceeds it. Dirty-file-only and
    *    claim-atomic (routes through [[compact]]'s standard two-phase
    *    commit with `replaceFiles`+`expectDvs` conflict validation);
    *    files at or below the threshold KEEP their vectors — their read
    *    debt is cheaper than their rewrite. A file without a `__rows`
    *    sidecar line cannot be priced and is repaid conservatively.
    *  - `compact.target-file-bytes`: [[binpack]] under-sized files per
    *    partition (r18 verdict #2), AFTER the DV arm so freshly repaid
    *    shards coalesce in the same maintenance pass.
    *
    * No properties set, or nothing to do, means no-op — the entry point
    * is safe to run on a schedule after every ingest cycle. Both arms
    * are non-append changes when they fire: plain tails refuse at the
    * maintenance version (consume the change-data-feed instead).
    */
  def maintain(path: String): Unit = {
    val props = readProps(path)
    props.get(CompactDvThresholdProp).map(_.toDouble).foreach { threshold =>
      require(threshold >= 0.0 && threshold <= 1.0,
        s"$CompactDvThresholdProp must be in [0, 1], got $threshold")
      val dvs = readDeletes(path, None)
      if (dvs.nonEmpty) {
        val stats = readStats(path)
        val dirty = dvs.filter { case (f, ps) =>
          stats.get(f).flatMap(_.get("__rows")).map(_.min.toLong) match {
            case Some(n) if n > 0 => ps.length.toDouble / n > threshold
            case _ => true // unpriceable debt: repay it
          }
        }.keySet
        if (dirty.nonEmpty) compact(path, Some(dirty))
      }
    }
    props.get(CompactTargetBytesProp).map(_.toLong)
      .foreach(binpack(path, _))
  }

  /** Expire history: keep only the latest snapshot's files + manifest,
    * delete everything else, and prune dead names from the stats/parts
    * sidecars. The Iceberg `expire_snapshots` analog — time travel before
    * the vacuum point is gone afterwards, by design.
    */
  def vacuum(path: String): Unit = vacuum(path, 1)

  /** [[vacuum]] with a RETENTION WINDOW (Iceberg's `expire_snapshots`
    * `retain_last`): keep the newest `retainLast` snapshots — their
    * manifests, every file any of them references, their delete-vector
    * sidecars and commit times — and expire everything older. Time
    * travel inside the window keeps working; travel before it fails as
    * "no such snapshot", by design. `retainLast = 1` is the
    * latest-only vacuum.
    */
  def vacuum(path: String, retainLast: Int): Unit =
    // vacuum serializes with same-process commits (r18 ADVICE #2: commits
    // write _dv-* sidecars BEFORE claiming a manifest — "invisible until
    // referenced" — so an unlocked vacuum could list a just-written,
    // not-yet-referenced sidecar, see it absent from every retained
    // manifest, and delete it; the commit then claims a manifest whose
    // delete state is permanently unreconstructible). A CROSS-process
    // commit racing a vacuum keeps that window — same residual contract
    // as the sidecar rewrite paths, but here the degradation is NOT
    // conservative, so operationally vacuum must not run concurrently
    // with out-of-process writers (the Iceberg expire_snapshots deployment
    // rule).
    StageCommitter.lockFor(path).synchronized {
    val versions = manifestVersions(path)
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    if (versions.isEmpty) return
    val retained = versions.takeRight(retainLast)
    val keep = retained
      .flatMap(v => snapshotFiles(path, Some(v)).map(_.getName)).toSet
    dataFiles(path).filterNot(f => keep(f.getName))
      .foreach(f => f.delete(): Unit)
    versions.dropRight(retainLast)
      .foreach(v => new File(path, manifestName(v)).delete(): Unit)
    // delete-vector sidecars referenced only by expired manifests go with
    // them (every retained snapshot's references stay resolvable)
    locally {
      val keepDv = retained
        .flatMap(v => readDvRefs(path, Some(v)).values).toSet
      val all = new File(path).listFiles()
      if (all != null)
        all.filter(f => f.getName.startsWith("_dv-") && !keepDv(f.getName))
          .foreach(f => f.delete(): Unit)
    }
    // expired versions lose their commit-time lines too (TIMESTAMP AS OF
    // to an expired instant must fail as "no such snapshot", not resolve
    // to a dangling version)
    locally {
      val f = new File(path, CommitsFile)
      if (f.exists()) {
        val retainedSet = retained.toSet
        val keptTimes = readCommitTimes(path)
          .filter { case (v, _) => retainedSet(v) }
          .toSeq.sorted
          .map { case (v, t) => s"$v\t$t" }
        java.nio.file.Files.write(f.toPath,
          keptTimes.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit
      }
    }
    def prune(name: String): Unit = {
      val f = new File(path, name)
      if (f.exists()) {
        val kept = new String(
          java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
          .linesIterator.filter(l => l.nonEmpty && keep(l.split('\t')(0)))
          .mkString("", "\n", "\n")
        java.nio.file.Files.write(f.toPath,
          kept.getBytes(StandardCharsets.UTF_8)): Unit
      }
    }
    prune(StatsFile)
    prune(PartsFile)
    prune(ColsFile)
  }: Unit

  /** Partition SPECS (r18 verdict #4 — StageSource accepted identity
    * partitioning only, so the measured storage-partitioned-join width
    * knob was unreachable on real committed data): `_partcols.txt` lines
    * are either a bare column name (identity) or `bucket(N,col)`. A
    * bucket spec routes writes by an engine-portable multiplicative-hash
    * bucket id (the same function the catalog exposes as SQL
    * `bucket(n, x)` and the DuckDB oracle replays), the scan reports the
    * layout as KeyGroupedPartitioning over the bucket transform, and
    * EQUALITY/IN predicates on the bucketed column prune to one bucket's
    * files. Bucket values are NOT exact per-file key sets, so takedown
    * DELETE and REPLACE WHERE on a bucketed column stay DECLINED (the
    * name-based decidability checks never match a spec string — loud,
    * by construction).
    */
  private val BucketSpecRe = """bucket\((\d+),\s*(.+)\)""".r

  def bucketSpecOf(spec: String): Option[(Int, String)] = spec match {
    case BucketSpecRe(n, c) => Some((n.toInt, c.trim))
    case _ => None
  }

  /** The underlying column of a partition spec. */
  def specCol(spec: String): String =
    bucketSpecOf(spec).map(_._2).getOrElse(spec)

  /** Engine-portable bucket id: Fibonacci hashing over the low 32 bits
    * (Knuth §6.4), replayed by the oracle as
    * `((x * 2654435761) % 4294967296) % n` — and the SAME function the
    * catalog's SQL `bucket(n, x)` binds, so write-time routing,
    * query-time pruning and Spark's v2-function shuffle all agree.
    */
  def bucketId(n: Int, x: Long): Int =
    (((x * 2654435761L) & 0xFFFFFFFFL) % n).toInt

  def readPartCols(path: String): Array[String] = {
    val f = new File(path, PartColsFile)
    if (!f.exists()) Array.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty).toArray
  }

  /** file name → partition-value rendering (decoded, one entry per
    * partition column, aligned with the persisted column order).
    */
  def readParts(path: String): Map[String, Array[String]] = {
    val f = new File(path, PartsFile)
    if (!f.exists()) return Map.empty
    new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(file, pv) = splitExact(f, l, 2)
        file -> pv.split('/').map(
          java.net.URLDecoder.decode(_, StandardCharsets.UTF_8))
      }.toMap
  }

  /** Reserved rendering for a NULL partition value (no legal string
    * column value can equal it — it carries a NUL byte).
    */
  val NullPart = "\u0000null"

  /** Render one partition value for routing/pruning: canonical string per
    * type (Long/Int exact decimal, Double via toString round-trip,
    * String as-is), nulls as a reserved marker.
    */
  def renderPart(dt: DataType, row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) NullPart
    else dt match {
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case DoubleType => row.getDouble(i).toString
      case StringType => row.getUTF8String(i).toString
      case TimestampType => row.getLong(i).toString // epoch micros, exact
      case d: DecimalType =>
        row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
      case other => throw new IllegalStateException(s"unsupported $other")
    }

  /** The typed Catalyst value of a rendered partition value — the
    * partition KEY the read side reports for storage-partitioned joins
    * (inverse of [[renderPart]], which is exact per type, so the
    * round-trip is lossless).
    */
  def partValue(dt: DataType, rendered: String): Any =
    if (rendered == NullPart) null
    else dt match {
      case LongType => rendered.toLong
      case IntegerType => rendered.toInt
      case DoubleType => rendered.toDouble
      case StringType => UTF8String.fromString(rendered)
      case TimestampType => rendered.toLong // epoch micros
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(rendered), d.precision, d.scale)
      case other => throw new IllegalStateException(s"unsupported $other")
    }

  /** Does a rendered partition value satisfy a literal comparison? Typed:
    * numeric partition columns compare numerically, strings lexically.
    * Integral columns with integral literals compare through Long — the
    * rendering is exact decimal, and a Double detour would collapse
    * distinct keys with |v| > 2^53 (pruning / REPLACE WHERE / partition
    * DELETE are documented as EXACT per-file decisions, so a collapsed
    * compare would match or drop the wrong files).
    */
  def partMatches(dt: DataType, rendered: String, op: String, lit: Any): Boolean = {
    if (rendered == NullPart) return false // comparisons never match null
    def integral(v: Any): Boolean = v match {
      case _: java.lang.Long | _: java.lang.Integer |
           _: java.lang.Short | _: java.lang.Byte => true
      case _ => false
    }
    def cmp: Int = dt match {
      case LongType | IntegerType if integral(lit) =>
        java.lang.Long.compare(rendered.toLong,
          lit.asInstanceOf[Number].longValue)
      case LongType | IntegerType | DoubleType =>
        java.lang.Double.compare(rendered.toDouble,
          lit.asInstanceOf[Number].doubleValue)
      case StringType => rendered.compareTo(String.valueOf(lit))
      case TimestampType =>
        java.lang.Long.compare(rendered.toLong, toMicros(lit).getOrElse(
          throw new IllegalStateException(s"not a timestamp literal: $lit")))
      case _: DecimalType =>
        new java.math.BigDecimal(rendered).compareTo(toBigDec(lit).getOrElse(
          throw new IllegalStateException(s"not a decimal literal: $lit")))
      case other => throw new IllegalStateException(s"unsupported $other")
    }
    op match {
      case "=" => cmp == 0
      case "<" => cmp < 0
      case "<=" => cmp <= 0
      case ">" => cmp > 0
      case ">=" => cmp >= 0
      case _ => true
    }
  }

  /** Per-file, per-numeric-column [min,max] zone maps, recorded by each
    * writer task and persisted at job commit — the connector analog of
    * parquet row-group statistics. Line format:
    * `file \t col \t min \t max` (doubles via Double.toString for an
    * exact round-trip); a `file \t __rows \t n \t n` line carries the
    * row count. String columns record no stats (no pruning).
    */
  final case class ColRange(min: Double, max: Double)

  /** Marker prefixing STRING zone-map values in the stats sidecar:
    * `file \t col \t s:<base64 lower> \t s:<base64 upper>`. String
    * bounds live in UTF-8 BYTE space (Spark's string ordering IS
    * UTF8String's unsigned byte comparison), Iceberg-truncated to
    * [[StrBoundBytes]] bytes: the lower bound is a plain prefix (≤ the
    * true min), the upper bound is the prefix with its LAST byte
    * incremented (> any string sharing the prefix, so ≥ the true max;
    * UTF-8 bytes never reach 0xFF, so the increment always fits). The
    * truncated-incremented upper may not be valid UTF-8 — it is only
    * ever compared, never decoded, hence the base64 framing. An empty
    * upper value means "unbounded" (never the case today, kept for
    * format headroom).
    */
  private val StrStatTag = "s:"
  val StrBoundBytes = 16

  def truncatedLower(b: Array[Byte]): Array[Byte] =
    if (b.length <= StrBoundBytes) b else b.take(StrBoundBytes)

  def truncatedUpper(b: Array[Byte]): Array[Byte] =
    if (b.length <= StrBoundBytes) b
    else {
      val p = b.take(StrBoundBytes)
      p(p.length - 1) = ((p(p.length - 1) & 0xFF) + 1).toByte
      p
    }

  /** Unsigned lexicographic byte comparison — the same total order
    * UTF8String.compareTo (and therefore Spark string comparison) uses.
    */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** One pass over the stats sidecar, partitioned by kind: numeric zone
    * maps and truncated string bounds (review r19: a scan with a pushed
    * string predicate used to read and tab-split the whole sidecar
    * twice).
    */
  def readAllStats(path: String): (
      Map[String, Map[String, ColRange]],
      Map[String, Map[String, (Array[Byte], Array[Byte])]]) = {
    val f = new File(path, StatsFile)
    if (!f.exists()) return (Map.empty, Map.empty)
    val dec = java.util.Base64.getDecoder
    val num = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, ColRange]]
    val str = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, (Array[Byte], Array[Byte])]]
    new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).foreach { l =>
        val Array(file, colName, mn, mx) = splitExact(f, l, 4)
        if (mn.startsWith(StrStatTag))
          str.getOrElseUpdate(file, scala.collection.mutable.Map.empty)
            .update(colName, (dec.decode(mn.drop(StrStatTag.length)),
              dec.decode(mx.drop(StrStatTag.length))))
        else
          num.getOrElseUpdate(file, scala.collection.mutable.Map.empty)
            .update(colName, ColRange(mn.toDouble, mx.toDouble))
      }
    (num.view.mapValues(_.toMap).toMap, str.view.mapValues(_.toMap).toMap)
  }

  def readStats(path: String): Map[String, Map[String, ColRange]] =
    readAllStats(path)._1

  /** file → col → (lower, upper) truncated UTF-8 byte bounds for string
    * columns (absent for all-null, legacy, or non-string columns — such
    * files are never skipped on that column).
    */
  def readStringStats(path: String)
      : Map[String, Map[String, (Array[Byte], Array[Byte])]] =
    readAllStats(path)._2

  def pathOf(properties: util.Map[String, String]): String = {
    val p = properties.get("path")
    require(p != null && p.nonEmpty, "StageSource requires option 'path'")
    p
  }

  def supported(t: DataType): Boolean = t match {
    case LongType | IntegerType | DoubleType | StringType => true
    // TimestampType rides the framing as epoch micros (a long);
    // DecimalType as scale-stripped unscaled bytes — both round-trip
    // exactly (the events schema needs the former, the TPC-H
    // exact-currency discipline the latter)
    case TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Epoch micros of a filter/partition literal for a timestamp column:
    * V1 filters carry java.sql.Timestamp (or Instant under the Java 8
    * API), V2 literals the Catalyst-internal Long.
    */
  def toMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      // FLOOR the seconds part (like the Instant branch's getEpochSecond):
      // plain division truncates toward zero, so a pre-1970 timestamp with
      // fractional seconds would land a full second late — and this value
      // feeds EXACT partition matching (REPLACE WHERE / partition DELETE
      // doom files by it) and zone-map literals
      Some(Math.addExact(
        Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
        (t.getNanos / 1000L) % 1000000L))
    case i: java.time.Instant =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case l: java.lang.Long => Some(l)
    case _ => None
  }

  /** Exact BigDecimal view of a decimal filter/partition literal. */
  def toBigDec(v: Any): Option[java.math.BigDecimal] = v match {
    case d: java.math.BigDecimal => Some(d)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case d: scala.math.BigDecimal => Some(d.bigDecimal)
    case n: Number => Some(new java.math.BigDecimal(n.toString))
    case _ => None
  }

  def dataFiles(path: String): Array[File] = {
    val fs = new File(path).listFiles()
    if (fs == null) Array.empty
    else fs.filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
  }
}

class StageTable(
    path: String, tableSchema: StructType,
    partCols: Array[String] = Array.empty,
    // a table loaded via SQL time travel (`VERSION AS OF n`) is PINNED:
    // every scan reads snapshot n unless a read option overrides it
    pinnedVersion: Option[Int] = None,
    // persisted table properties (`_props.tsv`): `delete.mode` =
    // `merge-on-read` routes row-level DELETE to the delta (positional
    // delete vector) path instead of copy-on-write
    props: Map[String, String] = Map.empty,
    // true when loaded through the path-based TableProvider (no catalog
    // attached): bucket-spec WRITES must decline loudly there — Spark
    // resolves the required bucket clustering through the table's
    // FunctionCatalog, and without one the write dies in the planner
    // with an opaque "bucket(n, col) is not currently supported"
    pathRouted: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns with SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft_stage($path)"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    partCols.map(c => StageSource.bucketSpecOf(c) match {
      case Some((n, col)) => Expressions.bucket(n, col)
      case None => Expressions.identity(c)
    })
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ).asJava

  // ------------------------------------------------- partition-level DELETE
  // The takedown path ([[SupportsDeleteV2]], Iceberg's metadata-delete
  // contract): a DELETE whose predicates touch ONLY identity-partition
  // columns is a pure file-list operation — every committed file carries
  // exactly one partition value, so each file is provably all-match or
  // none-match and matching files are simply dropped from the snapshot
  // (no row is read, no data rewritten). Anything finer-grained is
  // DECLINED loudly (canDeleteWhere=false → Spark raises) rather than
  // half-applied: at 100 TB a takedown that silently rewrote petabytes
  // row-wise is a bug, not a feature — the caller either aligns the
  // predicate with the layout or runs an explicit rewrite job.
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    partCols.nonEmpty && predicates.forall(StageTable.decidable(_, partCols))

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    require(canDeleteWhere(predicates), "undecidable partition delete")
    // same commit discipline as StageCommitter.commit (ADVICE r16 #2: a
    // plain latest+1 write here could compute the same version as a
    // concurrent append and clobber its snapshot): same-process callers
    // serialize on the per-path lock, cross-process races lose the
    // CREATE_NEW claim and retry against the re-read base — the doomed
    // set is recomputed each attempt, so files a concurrent commit added
    // to the doomed partitions are seen and handled, never dropped blind.
    // specCol: a mixed layout (identity + bucket specs) resolves types by
    // the underlying columns; bucket specs themselves never decide (the
    // canDeleteWhere name check above already declined them)
    val colType = partCols.map(c => tableSchema.fields(
      tableSchema.fieldIndex(StageSource.specCol(c))).dataType)
    var doomed = Set.empty[String]
    StageCommitter.lockFor(path).synchronized {
      var committed = false
      while (!committed) {
        val parts = StageSource.readParts(path)
        val current = StageSource.snapshotFiles(path, None)
        doomed = current.filter { f =>
          val pv = parts.getOrElse(f.getName, Array.empty[String])
          pv.length == partCols.length && predicates.forall(p =>
            StageTable.matches(p, partCols, colType, pv))
        }.map(_.getName).toSet
        // the post-takedown snapshot FIRST (readers switch atomically),
        // then the physical removal — a takedown is the one operation
        // that must destroy bytes, so older snapshot versions referencing
        // these files intentionally stop being reconstructible (and say
        // so loudly)
        val survivors = current.map(_.getName).filterNot(doomed)
        // surviving files keep their merge-on-read delete vectors and
        // stored-column counts; the doomed files' entries drop with them
        // surviving files' delete-vector REFERENCES carry over verbatim
        // (bounded encoding); legacy per-row D-lines migrate to sidecars
        val refs = StageSource.readDvRefs(path, None)
        val legacy = StageSource.readLegacyDeletes(path, None)
        val dvLines = survivors.flatMap { f =>
          refs.get(f).map(StageSource.dvRefLine(f, _))
            .orElse(legacy.get(f).map(v =>
              StageSource.dvRefLine(f, StageSource.writeDvFile(path, v))))
        }
        val colLines = StageSource.readColsAt(path, None)
          .filter { case (f, _) => survivors.contains(f) }
          .toSeq.sorted.map { case (f, n) => StageSource.colsLine(f, n) }
        // change summary: a takedown adds nothing and removes the doomed
        // files (their BYTES are destroyed below, so a change-feed read
        // of this version fails loudly at the missing files — by design)
        val changeLns = StageSource.changeLines(
          Seq.empty, doomed.toSeq.sorted, Map.empty)
        val nextV = StageSource.latestVersion(path).getOrElse(0) + 1
        try {
          java.nio.file.Files.write(
            new File(path, StageSource.manifestName(nextV)).toPath,
            (survivors.toSeq ++ dvLines ++ colLines ++ changeLns)
              .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW): Unit
          StageSource.recordCommitTime(path, nextV)
          committed = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => () // lost the race: retry on the new base
        }
      }
      // physical deletes and sidecar rewrites stay INSIDE the lock
      // (ADVICE r17 #2: releasing it first let a same-process concurrent
      // commit's freshly appended sidecar lines be clobbered by this
      // read-modify-write — contradicting commit()'s serialization
      // contract for same-process commits)
      doomed.foreach(n => new File(path, n).delete(): Unit)
      // drop the dead files' stats + partition lines (snapshot metadata
      // stays exactly the surviving file set)
      def rewrite(file: String): Unit = {
        val f = new File(path, file)
        if (f.exists()) {
          val kept = new String(
            java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
            .linesIterator.filter(l => l.nonEmpty && !doomed(l.split('\t')(0)))
            .mkString("", "\n", "\n")
          java.nio.file.Files.write(f.toPath,
            kept.getBytes(StandardCharsets.UTF_8)): Unit
        }
      }
      rewrite(StageSource.StatsFile)
      rewrite(StageSource.PartsFile)
      rewrite(StageSource.ColsFile)
    }
  }

  // Row LINEAGE ([[SupportsMetadataColumns]], the `_metadata.file_path`
  // analog): `_file` names the committed data file each row lives in —
  // hidden from `SELECT *`, materialized only when referenced, and the
  // unit every file-level operation (zone-map skip, takedown delete,
  // shard audit) acts on. At 100 TB this is how a pipeline answers
  // "which shard did this document come from" without carrying a
  // provenance column through every write.
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = StageSource.FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "name of the committed data file holding this row"
    },
    new MetadataColumn {
      override def name(): String = StageSource.PosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "row ordinal within the committed data file (merge-on-read row id)"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StageScanBuilder(path, tableSchema, partCols,
      Option(options.get("version_as_of")).map(_.toInt)
        .orElse(pinnedVersion),
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxRowsPerTrigger = Option(options.get("maxRowsPerTrigger")).map(_.toLong),
      startVersion = Option(options.get("streaming.start-version")))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pathRouted ||
      partCols.forall(StageSource.bucketSpecOf(_).isEmpty),
      s"table at $path is bucket-partitioned " +
        s"(${partCols.mkString(", ")}): write it through its catalog — " +
        "the bucket clustering resolves against the catalog's bucket() " +
        "function, which a path-based write cannot reach (reads via " +
        "path stay fine)")
    new StageWriteBuilder(path, info.schema(), info.queryId(),
      truncate = false, partCols)
  }

  // ------------------------------------------- row-level ops (MERGE etc.)
  // SQL `MERGE INTO` / `UPDATE` / row-level `DELETE` via the GROUP-BASED
  // (copy-on-write) contract: Spark plans a ReplaceData — the operation's
  // scan reads the affected groups, the rewrite query computes those
  // groups' full post-image (carried-over rows ∪ merged/updated rows ∪
  // inserts), and the operation's write commits it as the next snapshot.
  // This connector's group is the WHOLE TABLE (the scan declares no
  // runtime group filtering), so every row-level op is a full-table
  // rewrite producing one new snapshot — Iceberg's copy-on-write mode at
  // its coarsest granularity. Partition-decidable DELETEs never get
  // here: Spark's metadata-only-delete rule still routes them to
  // [[deleteWhere]] (pure manifest surgery). Snapshot isolation is
  // enforced at commit: the rewrite reads one manifest and commits the
  // next, a failed MERGE leaves the old snapshot untouched, and a commit
  // whose scanned files were rewritten or deleted by a CONCURRENT commit
  // aborts loudly instead of re-applying a rewrite computed from stale
  // contents (the lost-update check in [[StageCommitter.commit]];
  // concurrent appends are conflict-free and carry over).
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      import org.apache.spark.sql.connector.write.RowLevelOperation.Command
      // per-command mode switch (Iceberg's write.<command>.mode): each
      // row-level command independently opts into merge-on-read deltas;
      // default stays copy-on-write
      val modeKey = info.command match {
        case Command.DELETE => "delete.mode"
        case Command.UPDATE => "update.mode"
        case _ => "merge.mode"
      }
      if (props.get(modeKey).contains("merge-on-read"))
        new StageDeltaOperation(path, tableSchema, partCols, info.command)
      else
        new StageRowLevelOperation(path, tableSchema, partCols, info.command)
    }

  override def properties(): util.Map[String, String] = props.asJava
}

/** What a row-level operation's SCAN reports back to the operation at
  * plan time (driver-side, in-JVM — scan planning and job commit both
  * run on the driver): the planned file set and each file's
  * delete-vector state, the inputs commit-time conflict validation
  * checks against.
  */
trait StageScanReportSink {
  private[v2] def reportScanned(files: Seq[String], runtimeFiltered: Boolean): Unit
  private[v2] def reportScannedDvs(dvs: Map[String, Set[Long]]): Unit
}

/** The copy-on-write operation instance. The GROUP is the committed data
  * file: the operation's scan plans exactly the files that might hold
  * matching rows (zone maps and partition values prune provably-clean
  * files — those groups are never rewritten), RECORDS that planned file
  * set here, and the write's job commit builds the next snapshot as
  * `previous − scanned files + rewrite output` — Iceberg's
  * copy-on-write replaced-file contract. Scan planning and job commit
  * both run on the driver, so the handoff is an in-JVM field, exactly
  * like the reference formats' scan-task → commit coordination.
  */
class StageRowLevelOperation(
    path: String, tableSchema: StructType, partCols: Array[String],
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with StageScanReportSink {
  // REPLACE, don't accumulate: under runtime group filtering the rewrite
  // plan holds TWO scans of this operation — the pruning subquery's scan
  // (plans ALL candidate files, computes the matching _file set) and the
  // rewrite scan (plans only the runtime-filtered files). The files to
  // replace are the REWRITE scan's; accumulating would re-inflate every
  // selective rewrite back to a whole-table replace (observed before
  // this fix: a 1-file MERGE replaced all shards). The rewrite scan is
  // identified by the runtime `_file` filter it RECEIVED, not by
  // planning order (ADVICE r16 #3: "latest report wins" breaks silently
  // if Spark ever plans the candidate scan after the rewrite scan —
  // commit would drop ALL candidate files while the rewrite output
  // covers only the subset): a runtime-filtered report is sticky and a
  // later unfiltered report never displaces it. When no scan is
  // runtime-filtered (group filtering not planned), the one rewrite
  // scan's report stands. SourcesSpec pins the selective behavior.
  @volatile private var scanned: Set[String] = Set.empty
  @volatile private var sawRuntimeFiltered = false
  // the delete-vector state each scanned file carried when read — what
  // commit validates against to catch a concurrent MOR delete on a
  // scanned file (the same lost-update hazard as a rewritten file)
  @volatile private var dvsAtScan: Map[String, Set[Long]] = Map.empty
  private[v2] def reportScanned(
      files: Seq[String], runtimeFiltered: Boolean): Unit = synchronized {
    if (runtimeFiltered) { scanned = files.toSet; sawRuntimeFiltered = true }
    else if (!sawRuntimeFiltered) scanned = files.toSet
  }
  private[v2] def reportScannedDvs(dvs: Map[String, Set[Long]]): Unit =
    synchronized { dvsAtScan = dvsAtScan ++ dvs }
  private[v2] def scannedFiles: Set[String] = scanned
  private[v2] def scannedDvs: Map[String, Set[Long]] = dvsAtScan
  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StageScanBuilder(path, tableSchema, partCols, None, cowOp = Some(this))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new StageWriteBuilder(path, info.schema(), info.queryId(),
      truncate = false, partCols, cowOp = Some(this))
  // Declaring a required metadata attribute is what routes the rewrite
  // through Spark's PROJECTING write task (DataAndMetadataWritingSparkTask):
  // the MERGE rewrite plan's raw output rows carry a leading operation
  // int plus pass-through metadata columns, and only the projecting task
  // strips them down to the declared data schema before calling the
  // writer (without it the raw 4-field rows would be framed as if they
  // were the 3-column table — silent corruption). `_file` is also the
  // natural group id a finer-grained copy-on-write would replace by.
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(StageSource.FileCol))
  override def description(): String = s"graft_stage_cow($cmd)"
}

/** The MERGE-ON-READ row-level operation ([[
  * org.apache.spark.sql.connector.write.SupportsDelta]], Iceberg's
  * positional-delete contract, r16 verdict #4): Spark plans the
  * command's condition into this operation's scan, emits each affected
  * row as a DELTA — a delete of its ROW ID (`_file`, `_pos`) and, for
  * UPDATE/MERGE (`representUpdateAsDeleteAndInsert`), an insert of the
  * new image — and the delta write records the coordinates as delete
  * vectors plus ordinary staged data files in ONE commit. No
  * pre-existing file is rewritten. At 100 TB this is what makes
  * selective row-level ops affordable: copy-on-write rewrites every
  * touched file (gigabytes for a one-row takedown); merge-on-read
  * writes bytes proportional to the AFFECTED rows, and
  * [[StageSource.compact]] repays the read-side debt lazily. Enabled
  * per table and per command with `TBLPROPERTIES
  * ('delete.mode'='merge-on-read')` / `update.mode` / `merge.mode`.
  *
  * Conflict validation: the scan reports each planned file's
  * delete-vector state; for UPDATE/MERGE the commit aborts if any
  * scanned file's vectors changed since (a concurrent delete of a row
  * this operation is re-inserting would otherwise be silently undone).
  * Pure DELETEs skip that check — concurrent delete unions are
  * idempotent by intent — but keep the rewritten-target abort.
  */
class StageDeltaOperation(
    path: String, tableSchema: StructType, partCols: Array[String],
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta
    with StageScanReportSink {
  import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder}
  @volatile private var dvsAtScan: Map[String, Set[Long]] = Map.empty
  private[v2] def reportScanned(
      files: Seq[String], runtimeFiltered: Boolean): Unit = ()
  private[v2] def reportScannedDvs(dvs: Map[String, Set[Long]]): Unit =
    synchronized { dvsAtScan = dvsAtScan ++ dvs }
  private[v2] def scannedDvs: Map[String, Set[Long]] = dvsAtScan
  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StageScanBuilder(path, tableSchema, partCols, None, cowOp = Some(this))
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(StageSource.FileCol),
      Expressions.column(StageSource.PosCol))
  // files are immutable — an UPDATE delta is a delete vector plus a
  // fresh insert, never an in-place write
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder = new DeltaWriteBuilder {
    override def build(): DeltaWrite = new DeltaWrite {
      override def toBatch: DeltaBatchWrite =
        new StageDeltaBatchWrite(path, tableSchema, partCols,
          info.queryId(), StageDeltaOperation.this)
    }
  }
  override def description(): String = s"graft_stage_mor($cmd)"
}

/** One task's collected deltas: delete coordinates (file → row
  * ordinals) plus the staged data files holding its inserted rows.
  */
case class StageDeltaCommit(
    deletes: Map[String, Array[Long]],
    files: Array[StageFileCommit])
    extends WriterCommitMessage

class StageDeltaBatchWrite(
    path: String, schema: StructType, partCols: Array[String],
    queryId: String, op: StageDeltaOperation)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    // a standalone factory: the enclosing write holds the (driver-only,
    // non-serializable) operation back-reference and must not ship
    new StageDeltaWriterFactory(path, schema, queryId, partCols)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val merged = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    val dataMessages = messages.map {
      case StageDeltaCommit(dels, files) =>
        dels.foreach { case (f, ps) =>
          merged.getOrElseUpdate(
            f, scala.collection.mutable.ArrayBuffer.empty[Long]) ++= ps
        }
        StageCommit(files): WriterCommitMessage
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    val isDeleteOnly = op.command() ==
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE
    StageCommitter.commit(path, schema, partCols, queryId,
      dataMessages, truncate = false, epoch = None,
      addDeletes = merged.iterator
        .map { case (f, ps) => f -> ps.distinct.sorted.toArray }.toMap,
      // UPDATE/MERGE must abort if a concurrent commit changed any
      // scanned file's vectors (a concurrently-deleted row would be
      // resurrected by this operation's re-insert); pure deletes union
      // safely
      expectDvs = if (isDeleteOnly) None else Some(op.scannedDvs))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StageCommitter.cleanStaging(path, queryId)
}

class StageDeltaWriterFactory(
    path: String, schema: StructType, queryId: String,
    partCols: Array[String])
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new StageDeltaWriter(path, schema, queryId, partitionId, taskId, partCols)
}

/** Collects delete coordinates and writes inserted rows through an
  * embedded [[StageDataWriter]] (partition routing preserved — an
  * UPDATE that moves a row across partition values lands it in the
  * right shard). With `representUpdateAsDeleteAndInsert` the engine
  * never calls `update` directly.
  */
class StageDeltaWriter(
    path: String, schema: StructType, queryId: String,
    partitionId: Int, taskId: Long, partCols: Array[String])
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  private val dels = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private var inserts: StageDataWriter = _
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    dels.getOrElseUpdate(id.getUTF8String(0).toString,
      scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)
  override def insert(row: InternalRow): Unit = {
    if (inserts == null)
      inserts = new StageDataWriter(
        path, schema, queryId, partitionId, taskId, partCols)
    inserts.write(row)
  }
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")
  override def commit(): WriterCommitMessage =
    StageDeltaCommit(
      dels.iterator
        .map { case (f, ps) => f -> ps.distinct.sorted.toArray }.toMap,
      if (inserts == null) Array.empty
      else inserts.commit().asInstanceOf[StageCommit].files)
  override def abort(): Unit = if (inserts != null) inserts.abort()
  override def close(): Unit = ()
}

object StageTable {
  /** Is a DELETE predicate decidable per-file from partition values alone?
    * Comparisons and IN on a partition column are; everything else —
    * non-partition columns, expressions, OR trees — is not.
    */
  def decidable(p: Predicate, partCols: Array[String]): Boolean = p match {
    case _: AlwaysTrue => true
    case _ =>
      p.name() match {
        case "=" | "<" | "<=" | ">" | ">=" | "IN" =>
          val refs = p.references()
          refs.length == 1 &&
            partCols.contains(refs(0).fieldNames.mkString(".")) &&
            p.children().count(c =>
              V2ExprShim.literalValue(c).isDefined) == p.children().length - 1
        case _ => false
      }
  }

  /** [[decidable]] for V1 filters (the SupportsOverwrite surface). */
  def decidableV1(f: Filter, partCols: Array[String]): Boolean = f match {
    case _: org.apache.spark.sql.sources.AlwaysTrue => true
    case EqualTo(c, _) => partCols.contains(c)
    case In(c, _) => partCols.contains(c)
    case GreaterThan(c, _) => partCols.contains(c)
    case GreaterThanOrEqual(c, _) => partCols.contains(c)
    case LessThan(c, _) => partCols.contains(c)
    case LessThanOrEqual(c, _) => partCols.contains(c)
    case _ => false
  }

  /** Does a file's partition value satisfy a (decidable) V1 filter? */
  def matchesV1(
      f: Filter, partCols: Array[String], colType: Array[DataType],
      pv: Array[String]): Boolean = {
    def at(c: String)(test: (DataType, String) => Boolean): Boolean = {
      val i = partCols.indexOf(c)
      test(colType(i), pv(i))
    }
    f match {
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case EqualTo(c, v) => at(c)(StageSource.partMatches(_, _, "=", v))
      case In(c, vs) => at(c)((t, r) =>
        vs.exists(StageSource.partMatches(t, r, "=", _)))
      case GreaterThan(c, v) => at(c)(StageSource.partMatches(_, _, ">", v))
      case GreaterThanOrEqual(c, v) =>
        at(c)(StageSource.partMatches(_, _, ">=", v))
      case LessThan(c, v) => at(c)(StageSource.partMatches(_, _, "<", v))
      case LessThanOrEqual(c, v) =>
        at(c)(StageSource.partMatches(_, _, "<=", v))
      case _ => false
    }
  }

  /** Does a file's partition value satisfy a (decidable) predicate?
    * V2ExpressionBuilder preserves the SQL's operand order, so
    * `DELETE … WHERE 5 < part` arrives literal-first: the comparison is
    * flipped (`<` ↔ `>`, `<=` ↔ `>=`) so it is evaluated as the
    * equivalent column-first `part > 5` — without the flip the inequality
    * inverts and the WRONG partition files are physically deleted.
    */
  def matches(
      p: Predicate, partCols: Array[String], colType: Array[DataType],
      pv: Array[String]): Boolean = p match {
    case _: AlwaysTrue => true
    case _ =>
      val col = p.references()(0).fieldNames.mkString(".")
      val i = partCols.indexOf(col)
      val lits = p.children().flatMap(c =>
        V2ExprShim.literalValue(c).map {
          case s: UTF8String => s.toString
          case v => v
        })
      p.name() match {
        case "IN" => lits.exists(v =>
          StageSource.partMatches(colType(i), pv(i), "=", v))
        case op =>
          val litFirst =
            V2ExprShim.literalValue(p.children()(0)).isDefined
          val colFirstOp =
            if (!litFirst) op
            else op match {
              case "<" => ">"
              case "<=" => ">="
              case ">" => "<"
              case ">=" => "<="
              case o => o // "=" is symmetric
            }
          StageSource.partMatches(colType(i), pv(i), colFirstOp, lits.head)
      }
  }
}

// ---------------------------------------------------------------- write

class StageWriteBuilder(
    path: String, schema: StructType, queryId: String, truncate: Boolean,
    partCols: Array[String] = Array.empty,
    replaceWhere: Array[Filter] = Array.empty,
    cowOp: Option[StageRowLevelOperation] = None)
    extends WriteBuilder with SupportsOverwrite {
  override def truncate(): WriteBuilder =
    new StageWriteBuilder(path, schema, queryId, truncate = true, partCols)
  // Partition-scoped overwrite (`INSERT OVERWRITE … PARTITION (…)` /
  // `REPLACE WHERE`): the daily-pipeline idiom — recompute ONE
  // partition's shard, leave every other file untouched. Accepted only
  // when each filter is decidable per-file from partition values (every
  // committed file carries exactly one value); anything finer throws
  // here, at plan time, instead of half-replacing data.
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      return truncate()
    filters.foreach(f => require(StageTable.decidableV1(f, partCols),
      s"REPLACE WHERE predicate $f is not decidable from the " +
        s"partition layout (${partCols.mkString(",")}) — align it with " +
        "the partition columns or overwrite the whole table"))
    new StageWriteBuilder(path, schema, queryId, truncate = false,
      partCols, filters)
  }
  // The write DECLARES its required clustering ([[
  // RequiresDistributionAndOrdering]]): rows must arrive grouped by the
  // partition columns, so Spark plans the shuffle (or reuses an existing
  // one) and each partition VALUE lands wholly in one task → exactly one
  // committed file per value. This is the V2-native dynamic-partition
  // write: the connector states the layout law, the planner pays for it
  // once, and no task ever holds more than its own values' streams open.
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution =
      if (partCols.isEmpty) Distributions.unspecified()
      else Distributions.clustered(
        partCols.map(c => (StageSource.bucketSpecOf(c) match {
          case Some((n, col)) => Expressions.bucket(n, col)
          case None => Expressions.identity(c)
        }): org.apache.spark.sql.connector.expressions.Expression))
    override def requiredOrdering(): Array[V2SortOrder] = Array.empty
    override def toBatch: BatchWrite =
      new StageBatchWrite(path, schema, queryId, truncate, partCols,
        replaceWhere, cowOp)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new StageStreamingWrite(path, schema, queryId, truncate, partCols)
  }
}

/** The connector's STREAMING sink half ([[TableCapability
  * .STREAMING_WRITE]]): each micro-batch arrives as an epoch-tagged job
  * commit through the same two-phase protocol as the batch write (unique
  * per-attempt temp files → move-at-commit → `_SUCCESS` last), plus the
  * exactly-once ledger [[StageSource.EpochsFile]] — Spark delivers epochs
  * at-least-once (a restart between sink commit and offset-log write
  * re-offers the last epoch), and the ledger + epoch-deterministic file
  * names turn that into exactly-once table content. Append mode appends
  * epochs; complete mode (SupportsTruncate) replaces the snapshot at
  * every epoch.
  */
class StageStreamingWrite(
    path: String, schema: StructType, queryId: String, truncate: Boolean,
    partCols: Array[String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new StageStreamingWriterFactory(path, schema, queryId, partCols)
  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    StageCommitter.commit(path, schema, partCols, queryId, messages,
      truncate, epoch = Some(epochId))
  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    StageCommitter.cleanStaging(path, queryId)
}

class StageStreamingWriterFactory(
    path: String, schema: StructType, queryId: String,
    partCols: Array[String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    // taskId is attempt-unique ACROSS epochs too, so the batch writer's
    // temp naming stays collision-free under epoch re-execution
    new StageDataWriter(path, schema, queryId, partitionId, taskId, partCols)
}

/** One sealed temp file: its staging path, rendered partition value
  * (url-encoded, "" when unpartitioned), row count, numeric zone maps,
  * and truncated string bounds (col, lower, upper UTF-8 bytes).
  */
case class StageFileCommit(
    tmpPath: String, pv: String, rows: Long,
    stats: Array[(String, Double, Double)],
    strStats: Array[(String, Array[Byte], Array[Byte])] = Array.empty)

case class StageCommit(files: Array[StageFileCommit])
    extends WriterCommitMessage

class StageBatchWrite(
    path: String, schema: StructType, queryId: String, truncate: Boolean,
    partCols: Array[String] = Array.empty,
    replaceWhere: Array[Filter] = Array.empty,
    cowOp: Option[StageRowLevelOperation] = None)
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new StageWriterFactory(path, schema, queryId, partCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    StageCommitter.commit(path, schema, partCols, queryId, messages,
      truncate, epoch = None, replaceWhere,
      // resolved AT COMMIT: scan planning has necessarily happened by
      // the time the rewrite's write job finishes
      replaceFiles = cowOp.map(_.scannedFiles),
      expectDvs = cowOp.map(_.scannedDvs))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StageCommitter.cleanStaging(path, queryId)
}

/** The shared job-commit protocol — one implementation for the batch and
  * streaming halves. Streaming commits carry an `epoch`:
  *  - file names embed it (`part-<queryId>-e<epoch>-<i>-<j>.bin`), so a
  *    re-executed epoch overwrites its own files instead of duplicating;
  *  - committed epoch ids are recorded in `_epochs.txt` and a re-offered
  *    epoch (Spark re-delivers after a restart between sink commit and
  *    offset-log write) is SKIPPED — this pair is what makes the sink
  *    effectively exactly-once over at-least-once epoch delivery;
  *  - before applying, any half-written stats/parts lines from a crashed
  *    attempt of the SAME epoch are dropped, so the rewrite is idempotent.
  */
object StageCommitter {
  // same-process commits to one table serialize on this (local mode, or
  // several queries in one driver); CROSS-process safety is the manifest
  // CREATE_NEW claim below
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[v2] def lockFor(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)

  def commit(
      path: String, schema: StructType, partCols: Array[String],
      queryId: String, messages: Array[WriterCommitMessage],
      truncate: Boolean, epoch: Option[Long],
      replaceWhere: Array[Filter] = Array.empty,
      replaceFiles: Option[Set[String]] = None,
      // merge-on-read DELETE: new positional delete entries to record
      // (file → sorted row ordinals) — no data file moves, the manifest
      // gains D-lines
      addDeletes: Map[String, Array[Long]] = Map.empty,
      // rewrite conflict validation over DELETE STATE: the DV set each
      // scanned file had when the operation's scan read it — a scanned
      // file whose vectors changed since means the rewrite was computed
      // from different contents, the same lost-update hazard as a
      // rewritten file
      expectDvs: Option[Map[String, Set[Long]]] = None): Unit =
    lockFor(path).synchronized {
    val root = new File(path)
    root.mkdirs()
    val epochsFile = new File(root, StageSource.EpochsFile)
    // the exactly-once ledger is keyed by (queryId, epoch), NOT epoch
    // alone: a second streaming query (or a restart with a FRESH
    // checkpoint) starts again at epoch 0, and an epoch-only key would
    // silently discard its first batches as "re-delivered". The
    // streaming queryId is the checkpoint-persistent id, so dedup still
    // covers re-deliveries across restarts of the SAME run.
    val ledgerKey = epoch.map(e => s"$queryId:$e")
    if (ledgerKey.isDefined && epochsFile.exists()) {
      val done = new String(
        java.nio.file.Files.readAllBytes(epochsFile.toPath), StandardCharsets.UTF_8)
        .linesIterator.toSet
      // on-disk format migration (ADVICE r16 #4): pre-r16 ledgers
      // recorded the bare epoch number. A bare line counts as committed
      // ONLY when this query's files for that epoch are already in the
      // table (file names embed queryId+epoch, so a genuine re-delivery
      // after the format upgrade left them there) — a bare line alone
      // must NOT dedup, or a NEW query starting at epoch 0 on a legacy
      // table would have its first batches silently dropped (that query
      // never committed them; the line belongs to an older writer). A
      // zero-row legacy epoch re-commits once under this rule — an
      // empty, harmless extra snapshot version, vs. data loss the other
      // way.
      val legacyDup = done(epoch.get.toString) &&
        StageSource.snapshotFiles(path, None)
          .exists(_.getName.startsWith(s"part-$queryId-e${epoch.get}-"))
      if (done(ledgerKey.get) || legacyDup) {
        // re-delivered epoch: already committed, drop the staged attempt
        cleanStaging(path, queryId)
        return
      }
    }
    // overwrite = truncate AT JOB COMMIT, and it is LOGICAL: the next
    // manifest simply lists only the new files. The previous snapshot's
    // files stay on disk, readable via `version_as_of`, until a vacuum
    // expires them — so a failed overwrite can never destroy anything,
    // and time travel is the same mechanism as crash safety. A
    // truncating streaming sink (complete mode) rolls the snapshot at
    // EVERY epoch.
    val epochTag = epoch.map(e => s"e$e-").getOrElse("")
    // data files first: their names embed (queryId, epoch, task index),
    // so commits of different queries can never collide on a name and a
    // re-executed epoch overwrites its own files instead of duplicating.
    // Nothing is visible until a manifest references them.
    // Empty writer partitions (rows=0) reported no files — committing
    // them would litter the table with zero-row shards that every scan,
    // zone-map pass and lineage audit then has to touch.
    val newFiles = scala.collection.mutable.ArrayBuffer.empty[(String, StageFileCommit)]
    messages.zipWithIndex.foreach { case (m, i) =>
      m.asInstanceOf[StageCommit].files.zipWithIndex.foreach { case (c, j) =>
        val src = new File(c.tmpPath)
        val name = s"part-$queryId-$epochTag$i-$j.bin"
        java.nio.file.Files.move(src.toPath, new File(root, name).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        newFiles += name -> c
      }
    }
    // CLAIM the next snapshot version atomically (CREATE_NEW): two
    // concurrent committers both compute latest+1, but only one creation
    // succeeds — the loser re-reads the winner's manifest as its base
    // snapshot and claims the version after it, so neither commit's rows
    // vanish (the pre-fix clobber lost the first commit silently).
    // abort-with-cleanup for conflict validation failures: the just-moved
    // output files are unreferenced by any manifest — delete them like an
    // abort, then fail loudly
    def conflict(detail: String): Nothing = {
      newFiles.foreach { case (name, _) =>
        new File(root, name).delete(): Unit
      }
      throw new IllegalStateException(
        s"concurrent rewrite conflict on $path: $detail — aborting " +
          "instead of silently losing a concurrent commit's changes; " +
          "re-run the operation against the current snapshot")
    }
    var committed = false
    while (!committed) {
      // the new snapshot's file list: overwrite starts empty; a
      // partition-scoped REPLACE WHERE starts from the previous snapshot
      // MINUS the files its partition predicates doom (each file carries
      // one partition value, so the predicate is exact); plain append
      // starts from the whole previous snapshot (manifest if present,
      // directory listing for a legacy table)
      val snapshot = scala.collection.mutable.LinkedHashSet.empty[String]
      // the previous snapshot's names, re-read per retry (the change
      // summary's REMOVED list diffs against these; legacy tables resolve
      // via directory listing, which already sees the just-moved new
      // files — they are re-added below)
      val prev = StageSource.snapshotFiles(path, None).map(_.getName)
        .filterNot(n => n.startsWith(s"part-$queryId-$epochTag"))
      if (!truncate) {
        if (replaceFiles.isDefined) {
          // SNAPSHOT-ISOLATION conflict validation (r16 verdict #1): the
          // rewrite's output rows were computed from the scanned files'
          // contents at plan time. If a concurrent commit rewrote or
          // deleted any of them (they are no longer in the current base —
          // committed files are immutable and never renamed, so presence
          // IS unchanged-ness), silently proceeding would drop the stale
          // names and commit rows computed from the OLD contents — a
          // lost update (write-skew). Iceberg's validation aborts here;
          // so does this. Concurrent APPENDS stay safe: appended files
          // are never in replaceFiles and carry over untouched
          // (spec-pinned in SourcesSpec).
          val overlap = replaceFiles.get.diff(prev.toSet)
          if (overlap.nonEmpty)
            conflict(s"file(s) ${overlap.toSeq.sorted.mkString(", ")} read " +
              "by this row-level operation were rewritten or deleted by a " +
              "concurrent commit")
          // copy-on-write row-level op: drop exactly the files the
          // operation's scan planned (the rewritten groups); files the
          // zone maps / partition values proved clean carry over
          snapshot ++= prev.filterNot(replaceFiles.get)
        }
        else if (replaceWhere.isEmpty) snapshot ++= prev
        else {
          val parts = StageSource.readParts(path)
          val colType = partCols.map(c => schema.fields(
            schema.fieldIndex(StageSource.specCol(c))).dataType)
          snapshot ++= prev.filterNot { n =>
            val pv = parts.getOrElse(n, Array.empty[String])
            pv.length == partCols.length && replaceWhere.forall(
              StageTable.matchesV1(_, partCols, colType, pv))
          }
        }
      }
      newFiles.foreach { case (name, _) => snapshot += name }
      // ------------------------------------------- merge-on-read deletes
      // the base's delete-vector state as of THIS retry, held as
      // REFERENCES (files dropped from the snapshot — replaced,
      // overwritten, doomed — lose theirs): carry-forward copies the
      // reference line, never the vector, so an unrelated commit's
      // manifest cost is O(dirty files), not O(total deleted rows).
      // Legacy per-row D-lines (pre-upgrade manifests) surface here once
      // and are migrated to sidecars below.
      val baseRefs =
        if (truncate) Map.empty[String, String]
        else StageSource.readDvRefs(path, None)
          .filter { case (f, _) => snapshot.contains(f) }
      val baseLegacy =
        if (truncate) Map.empty[String, Array[Long]]
        else StageSource.readLegacyDeletes(path, None)
          .filter { case (f, _) => snapshot.contains(f) }
      // conflict validation over DELETE STATE: a scanned file whose
      // vectors changed since the scan means the operation read (and
      // for UPDATE/MERGE re-inserts) rows a concurrent commit deleted —
      // the same lost-update hazard as a rewritten file. Copy-on-write
      // validates its replaced files; a delta (merge-on-read) commit
      // validates the files it is deleting from.
      expectDvs.foreach { exp =>
        val watch = replaceFiles.getOrElse(addDeletes.keySet)
        // decode ONLY the watched files' sidecars (readDeletes would
        // decode every dirty file's vector per retry — the O(total
        // deletes) read the bounded encoding exists to avoid); the
        // validation read stays proportional to this operation's delta
        val curRefs = StageSource.readDvRefs(path, None)
        val curLegacy = StageSource.readLegacyDeletes(path, None)
        watch.foreach { f =>
          val cur = (curLegacy.getOrElse(f, Array.empty[Long]) ++
            curRefs.get(f).map(StageSource.loadDv(path, _))
              .getOrElse(Array.empty[Long])).toSet
          if (cur != exp.getOrElse(f, Set.empty))
            conflict(s"file $f gained or lost delete vectors after this " +
              "row-level operation scanned it")
        }
      }
      // a MOR delete whose target file is gone from the base was
      // computed against contents a concurrent rewrite replaced — its
      // positions are meaningless on the new file
      locally {
        val orphans = addDeletes.keySet.diff(snapshot.toSet)
        if (orphans.nonEmpty)
          conflict(s"delete vectors target file(s) " +
            s"${orphans.toSeq.sorted.mkString(", ")} which a concurrent " +
            "commit rewrote or removed")
      }
      // one V-line per dirty file: this commit's own delta decodes ONLY
      // its target files' base vectors, unions, and writes one immutable
      // content-addressed sidecar each (written BEFORE the claim below,
      // invisible until a claimed manifest references it); every other
      // dirty file's reference carries forward verbatim — commit bytes
      // are proportional to the commit's own delta
      val dvDeltas = scala.collection.mutable.Map.empty[String, Array[Long]]
      val dvLines = snapshot.toSeq.flatMap { f =>
        if (addDeletes.contains(f)) {
          val base = baseLegacy.getOrElse(f, Array.empty[Long]) ++
            baseRefs.get(f).map(StageSource.loadDv(path, _))
              .getOrElse(Array.empty[Long])
          val merged = (base ++ addDeletes(f)).distinct.sorted
          // the change summary's X-line: the NEWLY deleted ordinals only
          // (an encoding migration — legacy D-lines to a V-reference —
          // records an empty delta and is invisible to change readers)
          val baseSet = base.toSet
          dvDeltas(f) = merged.filterNot(baseSet)
          Some(StageSource.dvRefLine(f, StageSource.writeDvFile(path, merged)))
        } else baseRefs.get(f).map(StageSource.dvRefLine(f, _))
          .orElse(baseLegacy.get(f).map(v => // legacy D-lines: migrate once
            StageSource.dvRefLine(f, StageSource.writeDvFile(path, v))))
      }
      // stored-column counts, claim-atomic with the snapshot: carried
      // files keep their base count (manifest C-lines or legacy
      // sidecar), new files store the write schema's width; a carried
      // file known to neither stays unlisted (pre-evolution semantics:
      // it stores the full schema of its era)
      val baseCols = StageSource.readColsAt(path, None)
      val newNames = newFiles.map(_._1).toSet
      val colLinesM = snapshot.toSeq.flatMap { f =>
        (if (newNames(f)) Some(schema.length) else baseCols.get(f))
          .map(n => StageSource.colsLine(f, n))
      }
      // self-contained change summary: what THIS commit added, removed
      // and newly deleted (r18 ADVICE #1/#3 — change readers resolve one
      // manifest, never its predecessor)
      val changeLns = StageSource.changeLines(
        newFiles.map(_._1).toSeq,
        prev.filterNot(snapshot.contains).toSeq,
        dvDeltas.toMap)
      val nextV = StageSource.latestVersion(path).getOrElse(0) + 1
      try {
        java.nio.file.Files.write(
          new File(root, StageSource.manifestName(nextV)).toPath,
          (snapshot.toSeq ++ dvLines ++ colLinesM ++ changeLns)
            .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW): Unit
        StageSource.recordCommitTime(path, nextV) // TIMESTAMP AS OF anchor
        committed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => () // lost the race: retry on the new base
      }
    }
    // sidecars AFTER the manifest claim, merged against a fresh read so a
    // concurrent winner's lines survive. (A cross-process interleaving can
    // still drop the OTHER commit's newest lines — degradation is safe by
    // construction: a file with no stats line is never zone-map-skipped
    // and aggregate pushdown declines; same-process commits are fully
    // serialized by the lock above.)
    // A crashed attempt of THIS epoch may have left stats/parts lines —
    // drop them (its files were just overwritten by name); all other
    // files' lines are kept, their files remain readable in older
    // snapshots.
    def keepLine(l: String): Boolean =
      epoch.isEmpty || !l.startsWith(s"part-$queryId-$epochTag")
    val statLines = new StringBuilder
    locally {
      val f = new File(root, StageSource.StatsFile)
      if (f.exists())
        new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
          .linesIterator.filter(l => l.nonEmpty && keepLine(l))
          .foreach(l => statLines.append(l).append('\n'))
    }
    val partLines = new StringBuilder
    if (partCols.nonEmpty) {
      val f = new File(root, StageSource.PartsFile)
      if (f.exists())
        new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
          .linesIterator.filter(l => l.nonEmpty && keepLine(l))
          .foreach(l => partLines.append(l).append('\n'))
    }
    val colLines = new StringBuilder
    locally {
      val f = new File(root, StageSource.ColsFile)
      if (f.exists())
        new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
          .linesIterator.filter(l => l.nonEmpty && keepLine(l))
          .foreach(l => colLines.append(l).append('\n'))
    }
    val b64 = java.util.Base64.getEncoder
    newFiles.foreach { case (name, c) =>
      c.stats.foreach { case (colName, mn, mx) =>
        statLines.append(s"$name\t$colName\t$mn\t$mx\n")
      }
      c.strStats.foreach { case (colName, lo, hi) =>
        statLines.append(s"$name\t$colName\ts:${b64.encodeToString(lo)}" +
          s"\ts:${b64.encodeToString(hi)}\n")
      }
      // the per-file row count (the docstring's `__rows` pseudo-column)
      // — what COUNT(*) pushdown answers from without opening the file
      statLines.append(s"$name\t__rows\t${c.rows}\t${c.rows}\n")
      // the per-file STORED column count (schema-evolution sidecar): a
      // file written before an ADD COLUMN stores fewer columns than the
      // evolved schema and the reader null-fills the difference
      colLines.append(s"$name\t${schema.length}\n")
      if (partCols.nonEmpty) partLines.append(s"$name\t${c.pv}\n")
    }
    java.nio.file.Files.write(
      new File(root, StageSource.StatsFile).toPath,
      statLines.toString.getBytes(StandardCharsets.UTF_8)): Unit
    java.nio.file.Files.write(
      new File(root, StageSource.ColsFile).toPath,
      colLines.toString.getBytes(StandardCharsets.UTF_8)): Unit
    if (partCols.nonEmpty) {
      java.nio.file.Files.write(
        new File(root, StageSource.PartsFile).toPath,
        partLines.toString.getBytes(StandardCharsets.UTF_8)): Unit
      java.nio.file.Files.write(
        new File(root, StageSource.PartColsFile).toPath,
        partCols.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit
    }
    // persist the schema, never TIGHTENING nullability: an append's
    // write schema is the query's (a VALUES literal arrives
    // non-nullable), but files already in the snapshot may legitimately
    // hold nulls in that column (evolved columns null-fill) — persisting
    // NOT NULL would make codegen skip null checks and crash on read.
    // An overwrite replaces the table, so its schema stands as-is.
    val schemaFile = new File(root, StageSource.SchemaFile)
    val persistedSchema =
      if (truncate || !schemaFile.exists()) schema
      else {
        val existing = StructType.fromDDL(new String(
          java.nio.file.Files.readAllBytes(schemaFile.toPath),
          StandardCharsets.UTF_8))
        if (existing.length == schema.length &&
          existing.fields.zip(schema.fields).forall { case (a, b) =>
            a.name == b.name && a.dataType == b.dataType })
          StructType(existing.fields.zip(schema.fields).map { case (a, b) =>
            a.copy(nullable = a.nullable || b.nullable)
          })
        else schema
      }
    java.nio.file.Files.write(schemaFile.toPath,
      persistedSchema.toDDL.getBytes(StandardCharsets.UTF_8)): Unit
    // the epoch ledger precedes the marker: a crash in between re-offers
    // the epoch, which the ledger then skips
    ledgerKey.foreach { k =>
      val prev =
        if (truncate || !epochsFile.exists()) ""
        else new String(java.nio.file.Files.readAllBytes(epochsFile.toPath),
          StandardCharsets.UTF_8)
      java.nio.file.Files.write(epochsFile.toPath,
        (prev + k + "\n").getBytes(StandardCharsets.UTF_8)): Unit
    }
    // marker LAST: its presence means "complete snapshot"
    java.nio.file.Files.write(
      new File(root, StageSource.SuccessFile).toPath,
      Array.emptyByteArray): Unit
    cleanStaging(path, queryId)
  }

  def cleanStaging(path: String, queryId: String): Unit = {
    val st = new File(path, ".staging")
    val fs = st.listFiles()
    if (fs != null) fs.filter(_.getName.contains(queryId)).foreach(f => f.delete(): Unit)
  }
}

class StageWriterFactory(
    path: String, schema: StructType, queryId: String,
    partCols: Array[String] = Array.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new StageDataWriter(path, schema, queryId, partitionId, taskId, partCols)
}

class StageDataWriter(
    path: String, schema: StructType, queryId: String,
    partitionId: Int, taskId: Long, partCols: Array[String])
    extends DataWriter[InternalRow] {
  private val types = schema.fields.map(_.dataType)
  private val partIdx =
    partCols.map(c => schema.fieldIndex(StageSource.specCol(c)))
  // Some(n) for bucket specs: the rendered "partition value" is the
  // bucket id, so routing, the parts sidecar and the reported partition
  // key all speak the same n-ary hash
  private val partBuckets = partCols.map(StageSource.bucketSpecOf(_).map(_._1))

  /** One open temp file: unpartitioned tasks hold exactly one; a
    * partitioned task holds one per partition VALUE it receives (the
    * write's required clustering bounds this to the task's own values).
    */
  private final class Sink(val pv: String) {
    // unique per task ATTEMPT (taskId is attempt-unique): retries and
    // speculative copies write disjoint temp files
    val tmp = {
      val st = new File(path, ".staging")
      st.mkdirs()
      new File(st, s"tmp-$queryId-$partitionId-$taskId-${sinks.size}.bin")
    }
    val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(tmp), 1 << 16))
    var rows = 0L
    // running zone map per numeric column (NaN until a non-null value seen)
    val mins = Array.fill(types.length)(Double.NaN)
    val maxs = Array.fill(types.length)(Double.NaN)
    def observe(i: Int, v: Double): Unit = {
      if (mins(i).isNaN || v < mins(i)) mins(i) = v
      if (maxs(i).isNaN || v > maxs(i)) maxs(i) = v
    }
    // running string extremes (r18 verdict #3: string columns recorded
    // no stats, so `lang = 'en'`-class predicates — the most common
    // filters in an LLM-data pipeline — scanned every file). Extremes
    // are CLONED only when they change (the row's UTF8String may be
    // backed by a reused buffer); truncation happens once, at commit.
    val smins = Array.fill[UTF8String](types.length)(null)
    val smaxs = Array.fill[UTF8String](types.length)(null)
    def observeStr(i: Int, v: UTF8String): Unit = {
      if (smins(i) == null || v.compareTo(smins(i)) < 0) smins(i) = v.clone()
      if (smaxs(i) == null || v.compareTo(smaxs(i)) > 0) smaxs(i) = v.clone()
    }
  }
  private val sinks = scala.collection.mutable.LinkedHashMap.empty[String, Sink]

  private def renderSpec(s: Int, row: InternalRow): String = {
    val i = partIdx(s)
    partBuckets(s) match {
      case Some(n) =>
        if (row.isNullAt(i)) StageSource.NullPart
        else StageSource.bucketId(n, types(i) match {
          case LongType => row.getLong(i)
          case IntegerType => row.getInt(i).toLong
          case other =>
            throw new IllegalStateException(s"bucket over unsupported $other")
        }).toString
      case None => StageSource.renderPart(types(i), row, i)
    }
  }

  private def sinkFor(row: InternalRow): Sink = {
    val pv =
      if (partIdx.isEmpty) ""
      else partIdx.indices.map(s => java.net.URLEncoder.encode(
        renderSpec(s, row), StandardCharsets.UTF_8))
        .mkString("/")
    sinks.getOrElseUpdate(pv, new Sink(pv))
  }

  override def write(row: InternalRow): Unit = {
    val s = sinkFor(row)
    val out = s.out
    var i = 0
    while (i < types.length) {
      if (row.isNullAt(i)) out.writeByte(1)
      else {
        out.writeByte(0)
        types(i) match {
          case LongType =>
            val v = row.getLong(i); out.writeLong(v); s.observe(i, v.toDouble)
          case IntegerType =>
            val v = row.getInt(i); out.writeInt(v); s.observe(i, v.toDouble)
          case DoubleType =>
            val v = row.getDouble(i); out.writeDouble(v)
            if (!v.isNaN) s.observe(i, v)
          case StringType =>
            val u = row.getUTF8String(i)
            val b = u.getBytes
            out.writeInt(b.length); out.write(b)
            s.observeStr(i, u)
          case TimestampType =>
            // epoch micros: exact on disk; the zone map's double view is
            // lossy above 2^53 µs but mightMatch widens by one ulp, so a
            // rounded bound can never wrongly skip a file
            val v = row.getLong(i); out.writeLong(v); s.observe(i, v.toDouble)
          case d: DecimalType =>
            val v = row.getDecimal(i, d.precision, d.scale)
            val unscaled = v.toJavaBigDecimal.unscaledValue.toByteArray
            out.writeInt(unscaled.length); out.write(unscaled)
            s.observe(i, v.toDouble)
          case other => throw new IllegalStateException(s"unsupported $other")
        }
      }
      i += 1
    }
    s.rows += 1
  }

  override def commit(): WriterCommitMessage = {
    val files = sinks.values.iterator.map { s =>
      s.out.close()
      val stats = types.indices.iterator
        .filter(i => !s.mins(i).isNaN)
        .map(i => (schema.fields(i).name, s.mins(i), s.maxs(i)))
        .toArray
      val strStats = types.indices.iterator
        .filter(i => s.smins(i) != null)
        .map(i => (schema.fields(i).name,
          StageSource.truncatedLower(s.smins(i).getBytes),
          StageSource.truncatedUpper(s.smaxs(i).getBytes)))
        .toArray
      StageFileCommit(s.tmp.getAbsolutePath, s.pv, s.rows, stats, strStats)
    }.toArray
    // an empty task (rows=0 in every sink is impossible — sinks are
    // created on first row — but a task with NO rows has no sinks)
    // reports no files; job commit sees an empty list
    StageCommit(files)
  }

  override def abort(): Unit = sinks.values.foreach { s =>
    s.out.close()
    s.tmp.delete(): Unit
  }

  override def close(): Unit = ()
}

// ----------------------------------------------------------------- read

class StageScanBuilder(
    path: String, tableSchema: StructType,
    partCols: Array[String] = Array.empty,
    versionAsOf: Option[Int] = None,
    cowOp: Option[StageScanReportSink] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None,
    startVersion: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = tableSchema
  private var skipFilters: Array[Filter] = Array.empty
  private var partFilters: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  // Zone-map file skipping: comparison predicates on numeric columns are
  // REMEMBERED for partition pruning but returned as residuals — the
  // stats can only prove a whole file irrelevant, never filter rows, so
  // Spark must keep re-checking row-level (exactly parquet's row-group
  // stats contract).
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // numeric columns zone-check through the double view; string columns
    // (r18 verdict #3) through truncated UTF-8 byte bounds — the
    // `lang = 'en'` / `source = 'web'` file-skipping leg
    def zonable(c: String, v: Any): Boolean =
      (numeric(c) && StageScan.zoneValue(v).isDefined) ||
        (stringCol(c) && v.isInstanceOf[String])
    skipFilters = filters.filter {
      case EqualTo(c, v) => zonable(c, v)
      case GreaterThan(c, v) => zonable(c, v)
      case GreaterThanOrEqual(c, v) => zonable(c, v)
      case LessThan(c, v) => zonable(c, v)
      case LessThanOrEqual(c, v) => zonable(c, v)
      case _ => false
    }
    // partition pruning is EXACT (each file carries one partition value),
    // so it also covers string equality/IN — the layout's point-query
    // leg. A BUCKETED column prunes on equality/IN only (hashing
    // destroys order; a range over bucket ids would be wrong) and only
    // for integral literals (the hash's domain).
    def identityPart(c: String): Boolean = partCols.contains(c)
    def bucketPart(c: String, v: Any): Boolean =
      partCols.exists(p => StageSource.bucketSpecOf(p).exists(_._2 == c)) &&
        (v match {
          case _: java.lang.Long | _: java.lang.Integer |
               _: java.lang.Short | _: java.lang.Byte => true
          case _ => false
        })
    partFilters = filters.filter {
      case EqualTo(c, v) => identityPart(c) || bucketPart(c, v)
      case In(c, vs) => identityPart(c) || vs.forall(bucketPart(c, _))
      case GreaterThan(c, _) => identityPart(c)
      case GreaterThanOrEqual(c, _) => identityPart(c)
      case LessThan(c, _) => identityPart(c)
      case LessThanOrEqual(c, _) => identityPart(c)
      case _ => false
    }
    filters // all residual: skipping is pruning, not evaluation
  }
  private def numeric(c: String): Boolean =
    tableSchema.fields.find(_.name == c).exists(f => f.dataType match {
      case LongType | IntegerType | DoubleType | TimestampType => true
      case _: DecimalType => true
      case _ => false
    })
  private def stringCol(c: String): Boolean =
    tableSchema.fields.find(_.name == c).exists(_.dataType == StringType)
  override def pushedFilters(): Array[Filter] =
    (skipFilters ++ partFilters).distinct

  // ------------------------------------------- aggregate pushdown (stats)
  // COUNT(*)/MIN/MAX answered ENTIRELY from the commit-time sidecars —
  // the parquet footer-statistics story on the connector's own format: a
  // full-table count or key range is a metadata read, zero data bytes.
  // Declined (→ Spark's row-path aggregate) whenever the answer could be
  // wrong: any filter present (stats are per-file, residual filters
  // can't be applied to them), GROUP BY, a file missing its stat line
  // (all-null or legacy), DOUBLE min/max (NaN ordering differs between
  // engines), or a long value the double-typed zone map can't represent
  // exactly (|v| > 2^53).
  private var aggAnswer: Option[(StructType, Array[Any])] = None
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answer(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answer(agg) match {
      case Some(a) => aggAnswer = Some(a); true
      case None => false
    }
  private def answer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions.nonEmpty) return None
    if (skipFilters.nonEmpty || partFilters.nonEmpty) return None
    val stats = StageSource.readStats(path)
    val files = StageSource.snapshotFiles(path, versionAsOf).map(_.getName)
    val dvs = StageSource.readDeletes(path, versionAsOf)
    // every snapshot file must carry a row count (legacy files decline)
    val counts = files.map(f => stats.get(f).flatMap(_.get("__rows")))
    if (counts.exists(_.isEmpty)) return None
    // COUNT stays exact under merge-on-read deletes (per-file vector
    // sizes subtract); MIN/MAX must DECLINE on any file with vectors —
    // the extreme value might be a deleted row
    val total = counts.map(_.get.min.toLong).sum -
      files.map(f => dvs.get(f).map(_.length.toLong).getOrElse(0L)).sum
    val anyDeletes = files.exists(dvs.contains)
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    def exactLong(v: Double): Option[Long] =
      if (v == math.rint(v) && math.abs(v) <= (1L << 53)) Some(v.toLong)
      else None
    // min/max from the per-file zone maps, typed by the column (long/int
    // only); None = decline the whole aggregation
    def minMax(e: org.apache.spark.sql.connector.expressions.Expression,
        wantMin: Boolean): Option[(StructField, Any)] = {
      if (anyDeletes) return None // the extreme might be a deleted row
      val c = colName(e).getOrElse(return None)
      val f = tableSchema.fields.find(_.name == c).getOrElse(return None)
      val isInt = f.dataType == IntegerType
      if (f.dataType != LongType && !isInt) return None
      if (total == 0)
        return Some((StructField(c, f.dataType, nullable = true), null))
      val ranges = files.map(n => stats.get(n).flatMap(_.get(c)))
      if (ranges.exists(_.isEmpty)) return None // all-null file: can't tell
      val v = if (wantMin) ranges.map(_.get.min).min else ranges.map(_.get.max).max
      exactLong(v).map { l =>
        (StructField(c, f.dataType, nullable = true),
          if (isInt) l.toInt else l)
      }
    }
    val answered = agg.aggregateExpressions.map {
      case _: CountStar =>
        Some((StructField("count", LongType, nullable = false), total: Any))
      case m: Min => minMax(m.column, wantMin = true)
      case m: Max => minMax(m.column, wantMin = false)
      case _ => None // SUM/AVG/distinct: not derivable from zone maps
    }
    if (answered.exists(_.isEmpty)) return None
    val fields = answered.map(_.get._1)
    val values = answered.map(_.get._2)
    Some((StructType(fields.zipWithIndex.map { case (f, i) =>
      f.copy(name = s"${f.name}_$i")
    }), values))
  }

  override def build(): Scan = aggAnswer match {
    case Some((schema, values)) => StageAggScan(path, schema, values)
    case None =>
      StageScan(path, tableSchema, required, skipFilters, partCols,
        partFilters, versionAsOf, cowOp, maxFilesPerTrigger,
        maxRowsPerTrigger, startVersion)
  }
}

/** The 1-row scan a completely-pushed aggregate resolves to: the values
  * were computed from the snapshot's sidecar statistics at plan time —
  * no data file is opened (PlanAuditSpec pins the absence of any
  * aggregate operator above it).
  */
case class StageAggScan(path: String, schema: StructType, values: Array[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"StageAggScan(path=$path, aggs=${schema.fieldNames.mkString(",")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(StageFilePartition("")) // one empty partition: values are inline
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      private val vs = values
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val f = !emitted; emitted = true; f }
          override def get(): InternalRow = new GenericInternalRow(vs)
          override def close(): Unit = ()
        }
    }
}

/** `ncols` = the file's STORED column count (−1 = the full current
  * schema): files written before an `ADD COLUMN` store fewer columns
  * and the reader null-fills the difference. `deletes` = the snapshot's
  * positional delete vector for this file (sorted row ordinals), applied
  * at read — merge-on-read.
  */
case class StageFilePartition(
    file: String, ncols: Int = -1,
    deletes: Array[Long] = Array.empty)
    extends InputPartition

/** A data file plus its identity-partition KEY ([[
  * org.apache.spark.sql.connector.read.HasPartitionKey]]) — the
  * partition half of the storage-partitioned-join contract over STAGED
  * tables: the write clustered each partition value into its own
  * file(s), the scan reports that layout, and Spark groups same-key
  * files and lines them up against the other side's groups — two tables
  * staged clustered-by-key join with zero exchanges (the same contract
  * [[SeqKeyRange]] declares for the synthetic source, now on real
  * committed data). Key values are the typed Catalyst forms
  * ([[StageSource.partValue]]); all are Java-serializable.
  */
case class StageKeyedFilePartition(
    file: String, key: Array[Any], ncols: Int = -1,
    deletes: Array[Long] = Array.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}

object StageScan {
  /** The zone-map double view of a pushed filter literal: numbers
    * directly (java and scala BigDecimal included — both are Numbers),
    * timestamp literals as epoch micros. None = the literal can't be
    * zone-checked (the filter is then not remembered for skipping at all).
    */
  def zoneValue(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue)
    case _ => StageSource.toMicros(v).map(_.toDouble)
  }
}

/** One input partition per committed data file — file-grain parallelism,
  * the same unit the two-phase commit produced (one file per writer task).
  * Comparison predicates prune whole files against the commit-time zone
  * maps before any byte is read; a file with no recorded stats for a
  * column is never skipped on that column (nulls-only or legacy files
  * stay safe).
  */
case class StageScan(
    path: String, tableSchema: StructType, required: StructType,
    skipFilters: Array[Filter] = Array.empty,
    partCols: Array[String] = Array.empty,
    partFilters: Array[Filter] = Array.empty,
    versionAsOf: Option[Int] = None,
    // driver-side back-reference for copy-on-write scans: planned files
    // are reported to the operation so its write replaces exactly them
    cowOp: Option[StageScanReportSink] = None,
    // admission control for the streaming read half (per micro-batch)
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None,
    // where a FRESH streaming checkpoint begins: None = replay all
    // history; "latest" = tail only data committed after stream start;
    // "N" = tail everything after snapshot version N
    startVersion: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  // ORDERING declaration (mirrors SeqScan, measured 1.78 s → 0.54 s
  // there): every key-grouped partition holds exactly ONE partition
  // value — a constant is trivially sorted — so under the keyed layout
  // the planner can DELETE the per-partition sort a storage-partitioned
  // merge join would otherwise insert above each side. Only reported
  // when the layout itself is reportable (same precondition as
  // outputPartitioning; resolution happens against the scan output).
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    // identity layouts only: a key-grouped partition holds ONE partition
    // VALUE — constant, hence trivially sorted — but a bucket partition
    // holds one bucket id over MANY key values, which is not an ordering
    if (partCols.forall(StageSource.bucketSpecOf(_).isEmpty) &&
      keyedLayout(prunedFiles()).isDefined)
      partCols.map(c => Expressions.sort(Expressions.identity(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    else Array.empty
  @transient private var plannedFiles = -1
  @transient private var totalFiles = -1
  // RUNTIME GROUP FILTERING (Iceberg's selective copy-on-write): for a
  // row-level rewrite, Spark's RowLevelOperationRuntimeGroupFiltering
  // rule first evaluates the command's condition against a lightweight
  // copy of this scan, collects the DISTINCT `_file` values of matching
  // rows, and hands them here as an IN predicate — the rewrite scan then
  // plans ONLY the affected files, and since the operation's write
  // replaces exactly the planned files, a selective MERGE/UPDATE/DELETE
  // rewrites one shard instead of the table. Advertised only when the
  // scan actually outputs `_file` (resolveRefs resolves against the scan
  // output; advertising a pruned column is an analysis error).
  @transient private var runtimeFiles: Option[Set[String]] = None
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (required.fieldNames.contains(StageSource.FileCol))
      Array(Expressions.column(StageSource.FileCol))
    else Array.empty
  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach { p =>
      val isFileCol = p.references().length == 1 &&
        p.references()(0).fieldNames.mkString(".") == StageSource.FileCol
      if (isFileCol && (p.name() == "IN" || p.name() == "=")) {
        val names = p.children().flatMap(c =>
          V2ExprShim.literalValue(c).collect {
            case s: UTF8String => s.toString
          }).toSet
        if (names.nonEmpty)
          runtimeFiles = Some(runtimeFiles.fold(names)(_ intersect names))
      } // unrecognized runtime predicate: prune nothing (never wrong)
    }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val skipped =
      if (plannedFiles >= 0) s", files=$plannedFiles/$totalFiles" else ""
    val sk = if (skipFilters.nonEmpty)
      s", skipBy=${skipFilters.mkString(";")}" else ""
    val pf = if (partFilters.nonEmpty)
      s", partBy=${partFilters.mkString(";")}" else ""
    val vs = versionAsOf.map(v => s", version=$v").getOrElse("")
    val rf = runtimeFiles.map(f => s", runtimeFiles=${f.size}").getOrElse("")
    s"StageScan(path=$path$skipped$sk$pf$vs$rf, cols=${required.fieldNames.mkString(",")})"
  }
  // CBO inputs describe exactly the files this scan will read (r16
  // verdict #2: size was the WHOLE snapshot and numRows was empty even
  // though the `__rows` sidecar holds exact per-file counts — join
  // strategy and AQE decisions over staged tables fell back to
  // size-in-bytes heuristics over unpruned data): bytes sum over the
  // PRUNED file list, and row count is the exact sidecar sum whenever
  // every planned file carries a `__rows` line (legacy files decline to
  // empty, never guess). PlanAuditSpec pins a broadcast decision
  // flipping on these numbers.
  override def estimateStatistics(): Statistics = new Statistics {
    private val kept = prunedFiles()
    private val bytes = kept.map(_.length).sum
    private val rows: Option[Long] = {
      val stats = StageSource.readStats(path)
      val dvs = snapshotDvs
      val counts = kept.map(f => stats.get(f.getName).flatMap(_.get("__rows")))
      if (counts.exists(_.isEmpty)) None
      else Some(counts.map(_.get.min.toLong).sum -
        kept.map(f => dvs.get(f.getName).map(_.length.toLong).getOrElse(0L)).sum)
    }
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows(): util.OptionalLong =
      rows.fold(util.OptionalLong.empty())(util.OptionalLong.of)
  }
  // can a file whose column spans [min,max] possibly satisfy the filter?
  // Long/micros/decimal→double zone maps round to nearest, so bounds are
  // widened by one ulp before disproving — a rounded-up min must never
  // skip a file that holds a slightly smaller true value.
  private def mightMatch(
      stats: Map[String, StageSource.ColRange],
      strStats: Map[String, (Array[Byte], Array[Byte])],
      f: Filter): Boolean = {
    def rng(c: String): Option[(Double, Double)] =
      stats.get(c).map(r => (Math.nextDown(r.min), Math.nextUp(r.max)))
    def zv(v: Any): Double = StageScan.zoneValue(v).getOrElse(
      throw new IllegalStateException(s"unzonable pushed literal: $v"))
    // string bounds are EXACT below the truncation width and widened
    // above it (prefix lower bound / incremented upper bound), so every
    // disproof below stays conservative: lo ≤ true min, hi ≥ true max
    def sb(c: String): Option[(Array[Byte], Array[Byte])] = strStats.get(c)
    def lb(v: String): Array[Byte] = UTF8String.fromString(v).getBytes
    import StageSource.{compareBytes => cmp}
    f match {
      case EqualTo(c, v: String) => sb(c).forall { case (lo, hi) =>
        cmp(lb(v), lo) >= 0 && cmp(lb(v), hi) <= 0 }
      case GreaterThan(c, v: String) =>
        sb(c).forall { case (_, hi) => cmp(hi, lb(v)) > 0 }
      case GreaterThanOrEqual(c, v: String) =>
        sb(c).forall { case (_, hi) => cmp(hi, lb(v)) >= 0 }
      case LessThan(c, v: String) =>
        sb(c).forall { case (lo, _) => cmp(lo, lb(v)) < 0 }
      case LessThanOrEqual(c, v: String) =>
        sb(c).forall { case (lo, _) => cmp(lo, lb(v)) <= 0 }
      case EqualTo(c, v) =>
        rng(c).forall { case (mn, mx) => zv(v) >= mn && zv(v) <= mx }
      case GreaterThan(c, v) => rng(c).forall(_._2 > zv(v))
      case GreaterThanOrEqual(c, v) => rng(c).forall(_._2 >= zv(v))
      case LessThan(c, v) => rng(c).forall(_._1 < zv(v))
      case LessThanOrEqual(c, v) => rng(c).forall(_._1 <= zv(v))
      case _ => true
    }
  }
  /** The snapshot this scan reads, RESOLVED ONCE (review r17): every
    * planning surface — statistics, partitioning, ordering, input
    * partitions, runtime-filter re-plans — must see the SAME version
    * even when a concurrent commit lands mid-plan; an unpinned latest
    * could otherwise surface a new partition key between
    * outputPartitioning and a runtime re-plan and trip BatchScanExec's
    * partitioning-preservation check. (Legacy tables without manifests
    * still resolve by directory listing.)
    */
  @transient private lazy val pinnedVersion: Option[Int] =
    versionAsOf.orElse(StageSource.latestVersion(path))

  /** The pinned snapshot's delete vectors, resolved ONCE per scan:
    * statistics, aggregate answers and input-partition planning each
    * need them, and decoding every dirty file's sidecar per call is
    * driver-side metadata I/O a heavily-deleted table can't afford.
    */
  @transient private lazy val snapshotDvs: Map[String, Array[Long]] =
    StageSource.readDeletes(path, pinnedVersion)

  /** The snapshot's files surviving zone-map, partition and runtime
    * pruning — the shared ground truth for planning AND statistics, so
    * the planner's CBO inputs describe exactly the files that will be
    * read. Cached per runtime-filter state: statistics, partitioning,
    * ordering and planning each consult it, and re-reading every
    * sidecar per call is driver-side metadata I/O a 100k-file table
    * cannot afford. Counters and the copy-on-write scanned-file report
    * are updated only by [[planInputPartitions]].
    */
  @transient private var prunedKey: Option[Set[String]] = null
  @transient private var prunedVal: Array[File] = _
  private def prunedFiles(): Array[File] = synchronized {
    if (prunedVal == null || prunedKey != runtimeFiles) {
      prunedKey = runtimeFiles
      prunedVal = computePruned()
    }
    prunedVal
  }
  private def computePruned(): Array[File] = {
    val (stats, strStats) = StageSource.readAllStats(path)
    val parts = StageSource.readParts(path)
    val colType = partCols.map(c => tableSchema.fields(
      tableSchema.fieldIndex(StageSource.specCol(c))).dataType)
    // exact per-file partition pruning: a file with no recorded value
    // (unpartitioned/legacy) is never pruned on partition predicates
    def partKeep(name: String): Boolean =
      parts.get(name) match {
        case Some(pv) if pv.length == partCols.length =>
          // resolve the filter column to its SPEC: identity values
          // compare typed; a bucket spec compares the literal's bucket
          // id on equality only (the builder admitted nothing else)
          def keep(c: String, op: String, v: Any): Boolean = {
            val i = partCols.indexWhere(p => StageSource.specCol(p) == c)
            if (i < 0) true
            else StageSource.bucketSpecOf(partCols(i)) match {
              case Some((n, _)) =>
                op != "=" || (pv(i) != StageSource.NullPart &&
                  pv(i) == StageSource.bucketId(n,
                    v.asInstanceOf[Number].longValue).toString)
              case None => StageSource.partMatches(colType(i), pv(i), op, v)
            }
          }
          partFilters.forall {
            case EqualTo(c, v) => keep(c, "=", v)
            case In(c, vs) => vs.exists(keep(c, "=", _))
            case GreaterThan(c, v) => keep(c, ">", v)
            case GreaterThanOrEqual(c, v) => keep(c, ">=", v)
            case LessThan(c, v) => keep(c, "<", v)
            case LessThanOrEqual(c, v) => keep(c, "<=", v)
            case _ => true
          }
        case _ => true
      }
    val all = StageSource.snapshotFiles(path, pinnedVersion)
    totalFiles = all.length
    all.filter { f =>
      val fileStats = stats.getOrElse(f.getName, Map.empty)
      val fileStr = strStats.getOrElse(f.getName, Map.empty)
      skipFilters.forall(mightMatch(fileStats, fileStr, _)) &&
        partKeep(f.getName) &&
        runtimeFiles.forall(_.contains(f.getName))
    }
  }
  /** The files each paired with a FULL recorded partition value — the
    * precondition for reporting the clustered layout (r16 verdict #3:
    * the write clusters by the partition columns but the scan never
    * said so, so real staged data could not get the zero-shuffle
    * storage-partitioned join the synthetic keyed source measures at
    * 11×). None when the table is unpartitioned, a key column was
    * pruned away (Spark resolves the clustering against the scan
    * OUTPUT), or any planned file predates partition-value recording —
    * declaring a layout the files can't prove would mis-join.
    */
  private def keyedLayout(kept: Array[File])
      : Option[Array[(File, Array[String])]] = {
    if (partCols.isEmpty) return None
    if (!partCols.forall(c =>
      required.fieldNames.contains(StageSource.specCol(c)))) return None
    val parts = StageSource.readParts(path)
    val pvs = kept.map(f => parts.get(f.getName))
    if (pvs.exists(p => p.isEmpty || p.get.length != partCols.length)) None
    else Some(kept.zip(pvs.map(_.get)))
  }
  private def partColTypes: Array[DataType] =
    partCols.map(c => tableSchema.fields(
      tableSchema.fieldIndex(StageSource.specCol(c))).dataType)
  // The scan half of the storage-partitioned-join contract on REAL
  // staged data (mirrors SeqScan.outputPartitioning): the committed
  // layout — one partition VALUE per file, enforced by the write's
  // required clustering — is declared as KeyGroupedPartitioning over the
  // identity partition columns. With v2 bucketing enabled Spark groups
  // same-key files and satisfies joins/aggregations on the key with NO
  // exchange; with it disabled (or any precondition unmet) the layout
  // stays opaque and nothing changes.
  override def outputPartitioning(): Partitioning =
    keyedLayout(prunedFiles()) match {
      case Some(fps) =>
        new KeyGroupedPartitioning(
          partCols.map(c => (StageSource.bucketSpecOf(c) match {
            case Some((n, col)) => Expressions.bucket(n, col)
            case None => Expressions.identity(c)
          }): org.apache.spark.sql.connector.expressions.Expression),
          fps.map(_._2.toSeq).distinct.size)
      case None => new UnknownPartitioning(math.max(prunedFiles().length, 1))
    }
  override def planInputPartitions(): Array[InputPartition] = {
    require(new File(path, StageSource.SuccessFile).exists(),
      s"StageSource table at $path has no _SUCCESS marker — incomplete snapshot")
    val kept = prunedFiles()
    plannedFiles = kept.length
    cowOp.foreach(_.reportScanned(kept.map(_.getName).toSeq,
      runtimeFiltered = runtimeFiles.isDefined))
    val cols = StageSource.readColsAt(path, pinnedVersion)
    val dvs = snapshotDvs
    cowOp.foreach(_.reportScannedDvs(
      kept.map(f => f.getName ->
        dvs.get(f.getName).map(_.toSet).getOrElse(Set.empty[Long])).toMap))
    def ncolsOf(f: File): Int = cols.getOrElse(f.getName, -1)
    def dvOf(f: File): Array[Long] =
      dvs.getOrElse(f.getName, Array.empty[Long])
    keyedLayout(kept) match {
      case Some(fps) =>
        val types = partColTypes
        fps.map { case (f, pv) =>
          StageKeyedFilePartition(f.getAbsolutePath,
            partCols.indices.map { i =>
              // a bucket spec's KEY is the bucket id (the transform's
              // result type, IntegerType); identity keys are the typed
              // column values
              if (StageSource.bucketSpecOf(partCols(i)).isDefined)
                (if (pv(i) == StageSource.NullPart) null
                 else pv(i).toInt): Any
              else StageSource.partValue(types(i), pv(i))
            }.toArray,
            ncolsOf(f), dvOf(f))
            : InputPartition
        }
      case None =>
        kept.map(f =>
          StageFilePartition(f.getAbsolutePath, ncolsOf(f), dvOf(f))
            : InputPartition)
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new StageReaderFactory(tableSchema, required)

  // STREAMING read half ([[TableCapability.MICRO_BATCH_READ]], r17
  // verdict #2): snapshot versions are the natural epochs — see
  // [[StageMicroBatchStream]]. Column pruning is shared with the batch
  // path (same ScanBuilder); filters stay residual (zone pruning is a
  // per-snapshot file decision; the stream reads whole appended files).
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new StageMicroBatchStream(path, tableSchema, required,
      maxFilesPerTrigger, maxRowsPerTrigger, startVersion)
}

class StageReaderFactory(tableSchema: StructType, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val (file, fileNcols, deletes) = p match {
      case f: StageFilePartition => (f.file, f.ncols, f.deletes)
      case k: StageKeyedFilePartition => (k.file, k.ncols, k.deletes)
    }
    new PartitionReader[InternalRow] {
      private val in = new DataInputStream(
        new BufferedInputStream(new FileInputStream(file), 1 << 16))
      private val types = tableSchema.fields.map(_.dataType)
      // column pruning happens HERE: every stored column is decoded (the
      // framing is row-major), but only required ones are materialized
      // into the produced row. Metadata columns (`_file`) are not in the
      // stored framing at all — they come from the partition itself, one
      // constant per file, and the analyzer appends them AFTER the data
      // columns in the required schema.
      private val keep = tableSchema.fields.map(f => required.fieldNames.contains(f.name))
      private val outIdx = {
        var j = -1
        tableSchema.fields.map { f =>
          if (required.fieldNames.contains(f.name)) { j += 1; j } else -1
        }
      }
      private val fileIdx = required.fieldNames.indexOf(StageSource.FileCol)
      private val posIdx = required.fieldNames.indexOf(StageSource.PosCol)
      private val fileName =
        UTF8String.fromString(new File(file).getName)
      // schema evolution: this file physically stores only its
      // write-time columns; the evolved tail is null-filled per row
      // (Iceberg's add-column contract — old files never rewrite)
      private val storedCols =
        if (fileNcols < 0) types.length else fileNcols
      // merge-on-read: rows whose ordinal is in the snapshot's delete
      // vector are skipped at read. The framing is positional, so a
      // deleted row is still DECODED to advance the stream — the
      // sequential-scan cost a row-group-indexed format would avoid;
      // compact() removes the debt lazily.
      private var pos = -1L // ordinal of the row in `pending`
      private var delIdx = 0
      private var pending: InternalRow = _
      // local-file streams: available() is the exact remaining byte count
      // (FileInputStream tracks the fd position; the buffer adds its
      // unread window), so row framing needs no length prefix or footer
      override def next(): Boolean = {
        while (in.available() > 0) {
          pos += 1
          val r = readRow()
          if (delIdx < deletes.length && deletes(delIdx) == pos) delIdx += 1
          else { pending = r; return true }
        }
        false
      }
      override def get(): InternalRow = pending
      private def readRow(): InternalRow = {
        val r = new GenericInternalRow(required.length)
        var i = 0
        while (i < storedCols) {
          val isNull = in.readByte() == 1
          if (isNull) {
            if (keep(i)) r.setNullAt(outIdx(i))
          } else types(i) match {
            case LongType =>
              val v = in.readLong(); if (keep(i)) r.setLong(outIdx(i), v)
            case IntegerType =>
              val v = in.readInt(); if (keep(i)) r.setInt(outIdx(i), v)
            case DoubleType =>
              val v = in.readDouble(); if (keep(i)) r.setDouble(outIdx(i), v)
            case StringType =>
              val n = in.readInt(); val b = new Array[Byte](n)
              in.readFully(b)
              if (keep(i)) r.update(outIdx(i), UTF8String.fromBytes(b))
            case TimestampType =>
              val v = in.readLong(); if (keep(i)) r.setLong(outIdx(i), v)
            case d: DecimalType =>
              val n = in.readInt(); val b = new Array[Byte](n)
              in.readFully(b)
              if (keep(i)) r.update(outIdx(i),
                org.apache.spark.sql.types.Decimal(
                  new java.math.BigDecimal(
                    new java.math.BigInteger(b), d.scale),
                  d.precision, d.scale))
            case other => throw new IllegalStateException(s"unsupported $other")
          }
          i += 1
        }
        while (i < types.length) { // columns added after this file was written
          if (keep(i)) r.setNullAt(outIdx(i))
          i += 1
        }
        if (fileIdx >= 0) r.update(fileIdx, fileName)
        if (posIdx >= 0) r.setLong(posIdx, pos)
        r
      }
      override def close(): Unit = in.close()
    }
  }
}

/** A streaming offset over a staged table: `pos` files of snapshot
  * `version`'s NEW-file list (sorted; new = added vs version−1) are
  * consumed, and everything before `version` is fully consumed.
  * (0, 0) = nothing consumed — version numbers start at 1. Sub-version
  * positions are what keep a 10k-file backfill commit drainable in
  * bounded batches instead of one giant one.
  */
case class StageStreamOffset(version: Int, pos: Int = 0)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":$version,"pos":$pos}"""
}

/** The staged table's STREAMING read half (r17 verdict #2 — the
  * connector declared `BATCH_READ` + `STREAMING_WRITE` but real staged
  * tables could not be TAILED; SeqSource had the read half only for the
  * synthetic sequence). Snapshot versions are the natural epochs: a
  * micro-batch `(v1, v2]` is exactly the data files present in manifest
  * v2 and absent from v1 — the appended files — read with v2's stored
  * column counts and delete vectors. The contract is APPEND-ONLY
  * tailing, validated per batch: a snapshot range that REMOVED a file
  * (overwrite, takedown, compaction, copy-on-write rewrite) or changed
  * a carried file's delete-vector state fails LOUDLY — those rows were
  * already emitted and cannot be retracted; route such tables through
  * [[graft.operators.Changelog]]-style CDC instead of silently
  * re-emitting or missing rows.
  *
  * Admission control ([[SupportsAdmissionControl]] via
  * `maxFilesPerTrigger` / `maxRowsPerTrigger`): the batch end-version
  * advances while the cumulative new-file/row count stays inside the
  * limit, always by at least one version (a committed snapshot is the
  * atomic unit — version granularity, like Iceberg's streaming read).
  * Row counts come from the `__rows` sidecar statistics; a file without
  * one counts as unbounded (limits stay conservative, never wrong).
  * [[SupportsTriggerAvailableNow]] pins the drain target at trigger
  * start — without it the engine degrades to Trigger.Once and silently
  * IGNORES the read limit.
  */
class StageMicroBatchStream(
    path: String, tableSchema: StructType, required: StructType,
    maxFilesPerTrigger: Option[Int], maxRowsPerTrigger: Option[Long],
    startVersion: Option[String] = None,
    // change-data-feed mode (`read-change-feed`): offsets index each
    // version's CHANGE-UNIT list (removed files, delete-vector deltas,
    // added files) instead of its appended-file list, non-append changes
    // are CONSUMED as +insert/-delete rows instead of refused, and the
    // reader emits (_change_type, _commit_version) alongside the data
    // columns
    changeFeed: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // Memoized per-version metadata (r18 ADVICE #3: every trigger's
  // latestOffset walked the whole backlog re-reading two complete
  // manifests per version — O(history²) driver I/O on a long-history
  // table). Versions are immutable once claimed, so caching inside the
  // stream instance is always sound.
  private val filesMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, Set[String]]
  private val changesMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, Option[StageSource.VersionChanges]]
  private val newFilesMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[String]]
  // change-feed resolution shares one memoizing resolver per stream
  // instance (same immutability argument as the memos above)
  private lazy val cdcResolver = new ChangeResolver(path)

  // files of a snapshot version (empty at the pre-history version 0)
  private def filesAt(v: Int): Set[String] =
    if (v <= 0) Set.empty
    else filesMemo.computeIfAbsent(v,
      _ => StageSource.snapshotFiles(path, Some(v)).map(_.getName).toSet)

  private def changesOf(v: Int): Option[StageSource.VersionChanges] =
    changesMemo.computeIfAbsent(v, _ =>
      try StageSource.readChanges(path, v) catch {
        case e: IllegalArgumentException =>
          // a missing manifest here means a retention vacuum expired a
          // version this stream had not fully consumed — name the cause
          throw new IllegalStateException(
            s"streaming read of $path needs snapshot version $v, which a " +
              "vacuum expired before this stream consumed it — re-stream " +
              "from a fresh checkpoint, or vacuum with a retainLast that " +
              "covers every consumer's lag", e)
      })

  // the units version v contributes to the stream, in a deterministic
  // order (what offset positions index into). Tail mode: the files the
  // version ADDED over its predecessor — the manifest's own A-lines when
  // self-contained (r18 ADVICE #1 — vacuum expiring v-1 must not kill
  // the tail), the two-manifest diff for pre-r19 manifests. Change-feed
  // mode: the version's full change-unit key list (removed files, DV
  // deltas, added files).
  private def newFilesOf(v: Int): Seq[String] =
    if (v <= 0) Seq.empty
    else newFilesMemo.computeIfAbsent(v, _ =>
      if (changeFeed) cdcResolver.unitKeysOf(v)
      else changesOf(v) match {
        case Some(ch) => ch.added.sorted
        case None => filesAt(v).diff(filesAt(v - 1)).toSeq.sorted
      })

  private def latestVersionNow: Int =
    StageSource.latestVersion(path).getOrElse(0)

  // Trigger.AvailableNow drain target, pinned when the trigger starts
  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestVersionNow)

  private def ceiling: Int =
    availableNowTarget.getOrElse(latestVersionNow)

  // Where a FRESH checkpoint begins (`streaming.start-version`, the
  // Delta `startingVersion` / Kafka `latest` idiom): at 100 TB a new
  // consumer of an existing table must be able to tail only NEW data —
  // replaying the whole history through the stream is a batch job's
  // work. "latest" resolves at first use (initialOffset is only called
  // for fresh checkpoints; restarts resume from the offset log); an
  // integer N starts after snapshot N. The chosen start version must
  // exist — a typo'd version silently tailing from 0 would replay
  // history it was told to skip.
  override def initialOffset(): Offset = startVersion match {
    case None => StageStreamOffset(0, 0)
    case Some("latest") =>
      val v = latestVersionNow
      // pos = MaxValue means "this version is FULLY consumed" without
      // naming a file count — so a later restart never needs version v's
      // manifest to learn it has nothing left there (vacuum-safe)
      StageStreamOffset(v, if (v <= 0) 0 else Int.MaxValue)
    case Some(n) =>
      val v = try n.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"streaming.start-version must be 'latest' or an integer, got '$n'")
      }
      require(v == 0 || StageSource.manifestVersions(path).contains(v),
        s"streaming.start-version $v is not a snapshot of $path " +
          s"(available: ${StageSource.manifestVersions(path).mkString(",")})")
      StageStreamOffset(v, if (v <= 0) 0 else Int.MaxValue)
  }
  override def deserializeOffset(json: String): Offset =
    StageStreamOffset(
      """"version":(\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"bad offset $json")),
      """"pos":(\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toInt)
        // a pos-less offset (older checkpoint) means the version was
        // fully consumed under version-granularity semantics
        .getOrElse(Int.MaxValue))

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxFilesPerTrigger.map(ReadLimit.maxFiles),
      maxRowsPerTrigger.map(ReadLimit.maxRows)).flatten
    if (limits.isEmpty) ReadLimit.allAvailable()
    else if (limits.size == 1) limits.head
    else ReadLimit.compositeLimit(limits.toArray)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxFiles, ReadMaxRows}
    val so = start.asInstanceOf[StageStreamOffset]
    val top = ceiling
    if (top <= 0 || so.version > top) return so
    def caps(l: ReadLimit): (Long, Long) = l match {
      case f: ReadMaxFiles => (f.maxFiles().toLong, Long.MaxValue)
      case r: ReadMaxRows => (Long.MaxValue, r.maxRows())
      case c: CompositeReadLimit =>
        c.getReadLimits.map(caps).reduce((a, b) =>
          (math.min(a._1, b._1), math.min(a._2, b._2)))
      case _: ReadAllAvailable => (Long.MaxValue, Long.MaxValue)
      case _ => (Long.MaxValue, Long.MaxValue)
    }
    val (maxF, maxR) = caps(limit)
    if (maxF == Long.MaxValue && maxR == Long.MaxValue)
      // ALWAYS the fully-consumed sentinel (review r19: returning the
      // literal list size when so.version == top left the checkpoint
      // permanently non-vacuum-safe — equal offsets mean Spark never
      // rewrites it, and a later vacuum expiring manifest `top` killed a
      // fully-drained tail). A numeric so.pos upgrades through one empty
      // batch: (top, pos) ≠ (top, MaxValue) triggers a batch whose slice
      // clamps to the list size, then the checkpoint holds the sentinel.
      return StageStreamOffset(top, Int.MaxValue)
    val stats = StageSource.readStats(path)
    def fileRows(f: String): Long =
      stats.get(f).flatMap(_.get("__rows")).map(_.min.toLong)
        .getOrElse(Long.MaxValue) // no sidecar: counts as unbounded
    def rowsOf(v: Int, unit: String): Long =
      if (!changeFeed) fileRows(unit)
      else StageChangeFeed.parseKey(unit) match {
        case (StageChangeFeed.DvDeltaUnit, f) =>
          cdcResolver.changes(v).dvDeltas
            .get(f).map(_.length.toLong).getOrElse(0L)
        case (_, f) => fileRows(f)
      }
    // walk file-at-a-time from (version, pos), always advancing at least
    // one file, stopping once a limit is reached — a 10k-file backfill
    // commit drains as bounded batches, not one giant one. pos =
    // MaxValue ("fully consumed") skips the version WITHOUT reading its
    // manifest — a restart after a retention vacuum must not need
    // expired history it already drained.
    var curV = math.max(so.version, 1)
    var curP = if (so.version == 0) 0 else so.pos
    var files = 0L
    var rows = 0L
    var done = false
    while (!done) {
      val lst = if (curP == Int.MaxValue) Seq.empty else newFilesOf(curV)
      if (curP >= lst.size) {
        if (curV >= top) done = true
        else { curV += 1; curP = 0 }
      } else {
        val nf = files + 1
        val nr = {
          val r = rowsOf(curV, lst(curP))
          if (rows == Long.MaxValue || r == Long.MaxValue) Long.MaxValue
          else rows + r
        }
        if (files == 0L || (nf <= maxF && nr <= maxR)) {
          files = nf; rows = nr; curP += 1
          if (nf >= maxF || nr >= maxR) done = true
        } else done = true
      }
    }
    // normalize "walked past the version's last file" to the vacuum-safe
    // fully-consumed form
    val endPos =
      if (curP == Int.MaxValue || curP >= newFilesOf(curV).size) Int.MaxValue
      else curP
    StageStreamOffset(curV, endPos)
  }

  override def reportLatestOffset(): Offset = {
    val top = ceiling
    StageStreamOffset(top, if (top <= 0) 0 else newFilesOf(top).size)
  }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[StageStreamOffset]
    val eo = end.asInstanceOf[StageStreamOffset]
    val s = so.version
    val e = eo.version
    if (e < s || (e == s && eo.pos <= so.pos)) return Array.empty
    // the batch's units: the unconsumed tail of the start version's
    // list, every intermediate version's list whole, and the end
    // version's list up to the end position. A fully-consumed start
    // version (pos = MaxValue) is skipped WITHOUT reading its manifest —
    // it may already be vacuum-expired.
    def sliced: Seq[(Int, String)] = (math.max(s, 1) to e).flatMap { v =>
      if (v == s && so.pos == Int.MaxValue) Seq.empty
      else {
        val lst = newFilesOf(v)
        val from = if (v == s) math.min(so.pos, lst.size) else 0
        val until = if (v == e) math.min(eo.pos, lst.size) else lst.size
        lst.slice(from, until).map(v -> _)
      }
    }
    // change-feed mode consumes EVERY change — removed files surface as
    // delete rows, DV deltas as delete rows, added files as inserts — so
    // the append-only validation below does not apply
    if (changeFeed)
      return sliced.map { case (v, key) =>
        cdcResolver.partitionFor(v, key): InputPartition
      }.toArray
    // append-only validation: a removed file or a changed delete-vector
    // state on a carried file means rows this stream already emitted
    // were rewritten or deleted — fail loudly, never silently re-emit.
    // When every version in (s, e] is self-contained (carries a change
    // summary), the check reads exactly the range's manifests — never
    // the predecessor of s, which a retention vacuum may have expired
    // (r18 ADVICE #1). Pre-r19 manifests in the range fall back to the
    // two-manifest diff.
    val rangeChanges = ((math.max(s, 0) + 1) to e).map(v => changesOf(v))
    if (rangeChanges.forall(_.isDefined)) {
      val chs = rangeChanges.map(_.get)
      val removed = chs.flatMap(_.removed)
      require(removed.isEmpty,
        s"streaming read of $path hit a NON-APPEND change between snapshot " +
          s"versions $s and $e: file(s) ${removed.sorted.mkString(", ")} " +
          "were removed (overwrite/delete/compaction/rewrite) — the staged " +
          "streaming source tails appends only; re-stream from a fresh " +
          "checkpoint or consume the change-data-feed instead")
      // a delete-vector delta on a file NOT added within this range hit
      // rows an earlier batch already emitted; deltas on files added in
      // the same range are fine — their deleted rows are simply never
      // emitted (this batch reads with the end version's vectors)
      val addedInRange = chs.flatMap(_.added).toSet
      val retro = chs.flatMap(_.dvDeltas.collect {
        case (f, d) if d.nonEmpty && !addedInRange(f) => f
      })
      require(retro.isEmpty,
        s"streaming read of $path hit a DELETE between snapshot versions " +
          s"$s and $e: delete-vector state changed on already-emitted " +
          s"file(s) ${retro.sorted.distinct.mkString(", ")} — rows cannot " +
          "be retracted from an append-only stream; consume the " +
          "change-data-feed instead")
    } else {
      val before = filesAt(s)
      val after = filesAt(e)
      val removed = before.diff(after)
      require(removed.isEmpty,
        s"streaming read of $path hit a NON-APPEND change between snapshot " +
          s"versions $s and $e: file(s) ${removed.toSeq.sorted.mkString(", ")} " +
          "were removed (overwrite/delete/compaction/rewrite) — the staged " +
          "streaming source tails appends only; re-stream from a fresh " +
          "checkpoint or consume the change-data-feed instead")
      val dvS = StageSource.readDvRefs(path, Some(s)).filter(kv => before(kv._1))
      val dvE = StageSource.readDvRefs(path, Some(e)).filter(kv => before(kv._1))
      val legS = StageSource.readLegacyDeletes(path, Some(s))
        .filter(kv => before(kv._1)).map { case (f, p) => f -> p.toSeq }
      val legE = StageSource.readLegacyDeletes(path, Some(e))
        .filter(kv => before(kv._1)).map { case (f, p) => f -> p.toSeq }
      // when both sides are pure references, name equality IS vector
      // equality (content addressing) — zero sidecar decodes per batch.
      // A mixed range (a commit migrated legacy D-lines to sidecars) must
      // compare the RESOLVED vectors instead: the migration rewrites the
      // encoding, not the delete state, and failing on it would spuriously
      // kill every tailed pre-upgrade table at its first post-upgrade
      // append.
      val dvUnchanged =
        if (legS.isEmpty && legE.isEmpty) dvS == dvE
        else {
          def resolved(refs: Map[String, String],
              legacy: Map[String, Seq[Long]]): Map[String, Seq[Long]] =
            (refs.keySet ++ legacy.keySet).iterator.map { f =>
              f -> (legacy.getOrElse(f, Seq.empty) ++
                refs.get(f).map(StageSource.loadDv(path, _).toSeq)
                  .getOrElse(Seq.empty)).distinct.sorted
            }.toMap
          resolved(dvS, legS) == resolved(dvE, legE)
        }
      require(dvUnchanged,
        s"streaming read of $path hit a DELETE between snapshot versions " +
          s"$s and $e: delete-vector state changed on already-emitted " +
          "file(s) — rows cannot be retracted from an append-only stream")
    }
    val newFiles = sliced.map(_._2)
    val cols = StageSource.readColsAt(path, Some(e))
    val dvs = StageSource.readDeletes(path, Some(e))
    newFiles.map { n =>
      StageFilePartition(new File(path, n).getAbsolutePath,
        cols.getOrElse(n, -1), dvs.getOrElse(n, Array.empty[Long]))
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (changeFeed) new StageChangeFeedReaderFactory(tableSchema)
    else new StageReaderFactory(tableSchema, required)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
