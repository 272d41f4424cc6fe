package graft.sources.v2

import java.io.File
import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{AggregateFunction, BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.graftshim.V2ExprShim
import org.apache.spark.sql.types.{DataType, DataTypes, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A minimal [[TableCatalog]] over [[StageSource]] tables — the seam that
  * turns the path-based staging connector into SQL-addressable tables
  * (`CREATE TABLE cat.ns.t … PARTITIONED BY (c)`, `INSERT INTO`,
  * `SELECT`, `DELETE FROM` — the DDL/DML surface a table format exposes;
  * the reference's tables are in-process arrays, so the catalog itself is
  * pure Spark-side semantics). Register with
  * `spark.sql.catalog.<name> = graft.sources.v2.StageCatalog` and
  * `spark.sql.catalog.<name>.root = <dir>`; each table lives under
  * `<root>/<namespace>/<table>` with the schema / partition spec /
  * snapshot files [[StageSource]] already maintains.
  *
  * Deliberately NOT implemented: RENAME, and every ALTER except an
  * appended nullable ADD COLUMN ([[alterTable]]) — they throw rather
  * than half-work.
  */
class StageCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name requires option spark.sql.catalog.$name.root")
  }

  override def name(): String = catalogName

  private def nsOf(namespace: Array[String]): String = {
    require(namespace.length <= 1,
      s"StageCatalog supports a single namespace level, got ${namespace.mkString(".")}")
    if (namespace.isEmpty) "default" else namespace(0)
  }

  /** METADATA-TABLE addressing (the Iceberg idiom: `cat.ns.t.snapshots`
    * parses as namespace [ns, t], name "snapshots"): when the two-level
    * "namespace" is really an existing table plus a metadata suffix,
    * resolve to that table's metadata view — `snapshots` (the
    * DESCRIBE-HISTORY surface) or `changes` (the change-data-feed; range
    * options ride the read, e.g.
    * `spark.read.option("changes.start-version", 2).table("cat.ns.t.changes")`).
    */
  private def metadataTableOf(ident: Identifier): Option[Table] = {
    if (ident.namespace.length != 2) return None
    val inner = Identifier.of(Array(ident.namespace()(0)), ident.namespace()(1))
    if (!tableExists(inner)) return None
    val dir = dirOf(inner).getAbsolutePath
    ident.name match {
      case "snapshots" => Some(new StageSnapshotsTable(dir))
      case "changes" =>
        Some(new StageChangeFeedTable(dir, StageSource.readSchema(dir)))
      case _ => None
    }
  }

  private def dirOf(ident: Identifier): File =
    new File(new File(root, nsOf(ident.namespace)), ident.name)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = new File(root, nsOf(namespace))
    val fs = d.listFiles()
    if (fs == null) Array.empty
    else fs.filter(f => new File(f, StageSource.SchemaFile).exists())
      .map(f => Identifier.of(namespace, f.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length <= 1 &&
      new File(dirOf(ident), StageSource.SchemaFile).exists()

  override def loadTable(ident: Identifier): Table = {
    metadataTableOf(ident).foreach(t => return t)
    val dir = dirOf(ident)
    if (!new File(dir, StageSource.SchemaFile).exists())
      throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    val schema = StageSource.readSchema(dir.getAbsolutePath)
    // defense in depth: a hand-edited schema file must not smuggle in the
    // reserved sidecar name either
    require(!schema.fieldNames.contains("__rows"),
      "__rows is reserved for the connector's row-count statistics")
    new StageTable(dir.getAbsolutePath, schema,
      StageSource.readPartCols(dir.getAbsolutePath),
      props = StageSource.readProps(dir.getAbsolutePath))
  }

  /** SQL time travel (`SELECT … FROM <cat>.ns.t VERSION AS OF n`): the
    * loaded table is PINNED to snapshot n — every scan of it reads that
    * manifest's file set, the same mechanism as the read option
    * `version_as_of` on the path API.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"StageCatalog versions are integers, got '$version'")
    }
    val dir = dirOf(ident)
    require(StageSource.manifestVersions(dir.getAbsolutePath).contains(v),
      s"table ${ident.name} has no snapshot version $v " +
        s"(available: ${StageSource.manifestVersions(dir.getAbsolutePath).mkString(",")})")
    loadTable(ident) match { case t: StageTable => t.pinned(v) }
  }

  /** SQL `TIMESTAMP AS OF t`: Spark hands the instant in MICROseconds;
    * it resolves through the commit-time ledger ([[StageSource
    * .CommitsFile]], one line per manifest claim) to the snapshot that
    * was current then — Iceberg's snapshot-timestamp contract. Tables
    * with any untimed live snapshot decline loudly (resolving around
    * an untimed version could silently travel to the wrong snapshot).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!new File(dir, StageSource.SchemaFile).exists())
      throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    // floor to millis: the ledger records millis, and an instant inside
    // the recorded millisecond is "at or after" that commit
    val v = StageSource.versionAsOfMillis(
      dir.getAbsolutePath, Math.floorDiv(timestampMicros, 1000L))
    loadTable(ident, v.toString)
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    schema.fields.foreach(f => require(StageSource.supported(f.dataType),
      s"StageSource does not support column type ${f.dataType} (${f.name})"))
    // same guard as the path API's getTable: a real __rows column would
    // write zone-map lines that collide with the row-count sidecar lines,
    // corrupting readStats and the COUNT/MIN/MAX pushdown answers
    require(!schema.fieldNames.contains("__rows"),
      "__rows is reserved for the connector's row-count statistics")
    val partCols = partitions.map { t =>
      V2ExprShim.identityColumn(t).orElse(
        V2ExprShim.bucketColumn(t).map { case (n, c) =>
          require(n >= 1 && n <= 65536,
            s"bucket width $n out of [1, 65536]")
          val dt = schema.fields.find(_.name == c).map(_.dataType)
          require(dt.contains(LongType) || dt.contains(DataTypes.IntegerType),
            s"bucket($n, $c) needs an integral column, got " +
              s"${dt.getOrElse("no such column")}")
          s"bucket($n,$c)"
        }).getOrElse(throw new IllegalArgumentException(
        s"StageCatalog supports identity and bucket(n, col) partitioning, got $t"))
    }
    partCols.foreach(c => require(
      schema.fieldNames.contains(StageSource.specCol(c)),
      s"partition column $c not in schema ${schema.simpleString}"))
    val dir = dirOf(ident)
    dir.mkdirs()
    java.nio.file.Files.write(
      new File(dir, StageSource.SchemaFile).toPath,
      schema.toDDL.getBytes(StandardCharsets.UTF_8)): Unit
    if (partCols.nonEmpty)
      java.nio.file.Files.write(
        new File(dir, StageSource.PartColsFile).toPath,
        partCols.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit
    // persist user TBLPROPERTIES (e.g. `delete.mode` = `merge-on-read`,
    // which routes row-level DELETE to positional delete vectors);
    // Spark-managed keys are catalog bookkeeping, not table semantics
    import scala.jdk.CollectionConverters._
    val userProps = properties.asScala.toMap -- Seq(
      "provider", "location", "owner", "external", "comment")
    if (userProps.nonEmpty)
      StageSource.writeProps(dir.getAbsolutePath, userProps)
    // an empty table is a COMPLETE (zero-file) snapshot: the marker makes
    // it immediately readable
    java.nio.file.Files.write(
      new File(dir, StageSource.SuccessFile).toPath,
      Array.emptyByteArray): Unit
    new StageTable(dir.getAbsolutePath, schema, partCols, props = userProps)
  }

  /** Schema evolution, in the reference's one shape: APPEND-ONLY AddColumn
    * (the reference's generator grows tables by appending columns —
    * `generator.cc:32-44`, `join_dpu.cc:356-360` — and never reorders or
    * drops). An added column must be nullable (files written before the
    * ALTER store no value for it; the reader null-fills, no byte is
    * rewritten) and lands at the END (the framing is positional).
    * Everything else — drop, rename, retype, reposition — still throws:
    * each would need its own invariants and a silent half-support is
    * worse than a loud decline.
    *
    * Before the schema changes, every live data file missing a
    * stored-column-count line is BACKFILLED with the pre-alter count —
    * the last moment that count is knowable (all existing files carry
    * the pre-alter schema; any file written later records its own).
    * Old snapshots stay time-travel-readable: their files' counts are
    * recorded, so a `VERSION AS OF` read under the evolved schema
    * null-fills exactly the evolved tail.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val path = dir.getAbsolutePath
    // schema read + validation INSIDE the commit lock (ADVICE r17 #3: two
    // concurrent ADD COLUMNs both reading the pre-alter schema outside it
    // meant the second write silently dropped the first ALTER's column)
    StageCommitter.lockFor(path).synchronized {
    loadTable(ident): Unit // throws NoSuchTableException
    val schema = StageSource.readSchema(path)
    val added = changes.map {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"StageCatalog supports only top-level ADD COLUMN, got ${add.fieldNames.mkString(".")}")
        val colName = add.fieldNames()(0)
        require(add.position() == null,
          "StageCatalog supports only appended columns (the framing is " +
            "positional): drop the FIRST/AFTER clause")
        require(add.isNullable,
          s"added column $colName must be nullable — files written before " +
            "the ALTER hold no value for it")
        require(StageSource.supported(add.dataType),
          s"StageSource does not support column type ${add.dataType} ($colName)")
        require(!schema.fieldNames.contains(colName),
          s"column $colName already exists in ${schema.simpleString}")
        require(colName != "__rows",
          "__rows is reserved for the connector's row-count statistics")
        org.apache.spark.sql.types.StructField(
          colName, add.dataType, nullable = true)
      case other => throw new UnsupportedOperationException(
        s"StageCatalog supports only ADD COLUMN, got $other")
    }
      // backfill stored-column counts for every live file BEFORE the
      // schema changes — they all carry the pre-alter schema, the last
      // moment that count is knowable. The counts ride a NEW manifest
      // version (the one claim path, like every commit): a lost count
      // would make readers MISDECODE old files under the evolved schema,
      // so it must be claim-atomic. The ALTER moves no data: its change
      // summary is empty.
      StageCommitter.claim(path) { base =>
        val live = StageSource.liveFiles(path, base).map(_.getName).toSeq
        StageSource.Manifest(0, live, base.dvRefs,
          live.map(f => f -> base.cols.getOrElse(f, schema.length)).toMap,
          Some(StageSource.VersionChanges(Seq.empty, Seq.empty, Map.empty)))
      }
      // cross-process conflict detection (same-process alters serialize on
      // the lock above): if another PROCESS's ALTER changed the persisted
      // schema between this alter's read and its write, blindly writing
      // `schema ++ added` would silently drop that alter's column — fail
      // loudly instead, like every other concurrent-rewrite conflict
      val onDisk = StageSource.readSchema(path)
      require(onDisk.toDDL == schema.toDDL,
        s"concurrent schema change on ${ident.name}: persisted schema " +
          s"changed from '${schema.toDDL}' to '${onDisk.toDDL}' while this " +
          "ALTER was validating — re-run against the current schema")
      val evolved = StructType(schema.fields ++ added)
      // ATOMIC schema swap (r18 ADVICE #4): write-to-temp + ATOMIC_MOVE,
      // so no reader can ever observe a torn schema file. The
      // check-then-write window itself is closed for same-process alters
      // (the lock above) and NARROWED cross-process by the require just
      // before this write; a cross-process ALTER landing inside the
      // remaining microseconds can still be overwritten — the documented
      // residual, same contract as the sidecar rewrites (DDL from
      // multiple writer processes must be externally serialized).
      val tmp = new File(dir, StageSource.SchemaFile + ".tmp")
      java.nio.file.Files.write(tmp.toPath,
        evolved.toDDL.getBytes(StandardCharsets.UTF_8)): Unit
      java.nio.file.Files.move(tmp.toPath,
        new File(dir, StageSource.SchemaFile).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      new StageTable(path, evolved, StageSource.readPartCols(path),
        props = StageSource.readProps(path))
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "StageCatalog does not support RENAME TABLE")

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!new File(dir, StageSource.SchemaFile).exists()) false
    else {
      graft.engine.Fs.deleteRecursively(dir)
      true
    }
  }

  // ------------------------------------------------------ system functions
  // The [[FunctionCatalog]] half: catalog-scoped SQL functions
  // (`SELECT <cat>.default.knuth_bucket(16, k)`) — Iceberg's
  // system-function surface, the vocabulary DDL and queries share so
  // "bucket 16 of k" means the SAME thing at write time and query time.
  // Both functions carry a MAGIC METHOD (`invoke` over primitive types):
  // Spark binds it via Invoke and the call codegens into the consuming
  // operator — no row boxing, no UDF tax.
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    nsOf(namespace): Unit // validates depth
    StageCatalog.Functions.keys.map(Identifier.of(namespace, _)).toArray
  }

  override def loadFunction(ident: Identifier): UnboundFunction =
    StageCatalog.Functions.getOrElse(ident.name,
      throw new NoSuchFunctionException(ident))

  override def functionExists(ident: Identifier): Boolean =
    StageCatalog.Functions.contains(ident.name)
}

object StageCatalog {
  /** `knuth_bucket(width, x)`: multiplicative-hash bucket id in
    * `[0, width)` — Fibonacci hashing (Knuth §6.4) over the low 32 bits,
    * so consecutive keys scatter instead of landing in consecutive
    * buckets (what identity `x % width` would do). Deliberately
    * engine-portable: the DuckDB oracle replays it as
    * `((x * 2654435761) % 4294967296) % width`.
    */
  object KnuthBucket extends UnboundFunction with ScalarFunction[java.lang.Long] {
    override def name(): String = "knuth_bucket"
    override def description(): String =
      "knuth_bucket(width BIGINT, x BIGINT): multiplicative-hash bucket in [0, width)"
    override def bind(inputType: StructType): BoundFunction = {
      // integral inputs accepted — Spark coerces them to inputTypes()
      // (BIGINT, BIGINT) after binding
      require(inputType.length == 2 && inputType.fields.forall(f =>
        f.dataType == LongType || f.dataType == DataTypes.IntegerType),
        s"knuth_bucket(BIGINT, BIGINT), got ${inputType.simpleString}")
      this
    }
    override def inputTypes(): Array[DataType] = Array(LongType, LongType)
    override def resultType(): DataType = LongType
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def canonicalName(): String = "graft.knuth_bucket"
    // the magic method — codegen'd via Invoke
    def invoke(width: Long, x: Long): Long =
      ((x * 2654435761L) & 0xFFFFFFFFL) % width
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getLong(0), input.getLong(1))
  }

  /** `cents(x)`: the catalog's money idiom — `CAST(ROUND(x * 100) AS
    * BIGINT)`, the exact-integer form every oracled row uses so sums are
    * engine-portable (no double accumulation drift).
    */
  object Cents extends UnboundFunction with ScalarFunction[java.lang.Long] {
    override def name(): String = "cents"
    override def description(): String =
      "cents(x DOUBLE): ROUND(x * 100) as BIGINT (exact money arithmetic)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 1 &&
        inputType.fields(0).dataType == DataTypes.DoubleType,
        s"cents(DOUBLE), got ${inputType.simpleString}")
      this
    }
    override def inputTypes(): Array[DataType] = Array(DataTypes.DoubleType)
    override def resultType(): DataType = LongType
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def canonicalName(): String = "graft.cents"
    def invoke(x: Double): Long = Math.round(x * 100)
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getDouble(0))
  }

  /** Mergeable geometric-mean state: a sum of logs and a count — the
    * partial/final aggregate contract (the reference's `aggregator_fn_t`
    * seam) expressed at the V2 function layer: partitions `update`
    * locally, partials `merge` associatively, the final state produces
    * once. Non-positive inputs are ignored (ln undefined), mirroring
    * `EXP(AVG(LN(x)))` over the positive subset.
    */
  final class GMeanState extends java.io.Serializable {
    var sumLog: Double = 0.0
    var n: Long = 0L
  }

  /** `gmean(x DOUBLE)`: catalog-scoped AGGREGATE function — SQL calls it
    * like any builtin (`SELECT <cat>.default.gmean(price) … GROUP BY`),
    * Spark plans it partial→merge→final like any hash aggregate. The
    * oracle replays it as `EXP(AVG(LN(x)))`.
    */
  object GMean extends UnboundFunction
      with AggregateFunction[GMeanState, java.lang.Double] {
    override def name(): String = "gmean"
    override def description(): String =
      "gmean(x DOUBLE): geometric mean of the positive values"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 1 &&
        inputType.fields(0).dataType == DataTypes.DoubleType,
        s"gmean(DOUBLE), got ${inputType.simpleString}")
      this
    }
    override def inputTypes(): Array[DataType] = Array(DataTypes.DoubleType)
    override def resultType(): DataType = DataTypes.DoubleType
    override def isDeterministic: Boolean = true
    override def canonicalName(): String = "graft.gmean"
    override def newAggregationState(): GMeanState = new GMeanState
    override def update(s: GMeanState, input: InternalRow): GMeanState = {
      if (!input.isNullAt(0)) {
        val v = input.getDouble(0)
        if (v > 0) { s.sumLog += math.log(v); s.n += 1 }
      }
      s
    }
    override def merge(a: GMeanState, b: GMeanState): GMeanState = {
      a.sumLog += b.sumLog; a.n += b.n; a
    }
    override def produceResult(s: GMeanState): java.lang.Double =
      if (s.n == 0) null else math.exp(s.sumLog / s.n)
  }

  /** `bucket(n INT, x BIGINT)`: THE bucket transform's function — Spark
    * resolves a `PARTITIONED BY (bucket(n, col))` table's declared and
    * reported partitioning by loading `bucket` from the table's own
    * catalog ([[org.apache.spark.sql.catalyst.expressions
    * .V2ExpressionUtils]] binds it as (numBuckets, column)), and the
    * v2-function shuffle evaluates it when co-partitioning the other
    * join side. Same multiplicative hash as [[StageSource.bucketId]],
    * so write-time routing, pruning, SPJ keys and any engine-side
    * evaluation agree; the oracle replays it arithmetically.
    */
  object BucketFn extends UnboundFunction with ScalarFunction[Integer] {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n INT, x BIGINT): multiplicative-hash bucket id in [0, n)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 2 && inputType.fields.forall(f =>
        f.dataType == LongType || f.dataType == DataTypes.IntegerType),
        s"bucket(INT, BIGINT), got ${inputType.simpleString}")
      this
    }
    override def inputTypes(): Array[DataType] =
      Array(DataTypes.IntegerType, LongType)
    override def resultType(): DataType = DataTypes.IntegerType
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def canonicalName(): String = "graft.bucket"
    def invoke(n: Int, x: Long): Int = StageSource.bucketId(n, x)
    override def produceResult(input: InternalRow): Integer =
      invoke(input.getInt(0), input.getLong(1))
  }

  val Functions: Map[String, UnboundFunction] =
    Map("knuth_bucket" -> KnuthBucket, "cents" -> Cents, "gmean" -> GMean,
      "bucket" -> BucketFn)
}
