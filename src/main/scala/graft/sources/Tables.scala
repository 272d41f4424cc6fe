package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet table loading for the driver-provided testdata star schema
  * (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * The reference generates batches in memory (`host/generator/generator.cc:22-30`);
  * our source is a real columnar file scan so Catalyst gets predicate pushdown
  * and column pruning for free — the manual single-column DPU copy of the
  * reference (`host/dpuext/arrow_utils.cc:47-73`) is subsumed by parquet
  * `ReadSchema` pruning.
  *
  * Every parquet read by path goes through [[parquet]], which hands Spark
  * the schema instead of letting it infer one. A bare `spark.read.parquet`
  * infers the schema with a one-task Spark job (the Hadoop conf shipped to
  * a task that reads one footer): 79-90 ms and one job per load, warm, on
  * 4 cores. That job was the bulk of DataFrame construction, the first
  * layer of every catalog row's fixed cost. Reading the same footer in the
  * calling process costs 9-15 ms and no job, and gives the identical
  * `StructType`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, path(sfDir, name))

  /** `spark.read.parquet(path)` without the schema-inference job: the
    * schema is read in the calling process from the one footer Spark
    * itself reads when `mergeSchema` is off — the file itself, or for a
    * flat directory `_common_metadata`, then `_metadata`, then the first
    * data file in path order — and converted by Spark's own per-footer step
    * (`readSchemaFromFooter`), so the Spark row metadata a footer carries
    * and the session's converter settings (`nanosAsLong`, see [[events]])
    * apply exactly as in inference. Nothing is cached: each call re-reads
    * one footer, so a directory rewritten in place is never served a stale
    * schema. Where Spark's answer could differ (a subdirectory, i.e.
    * partition discovery; no data file, so the same error is raised; or
    * `spark.sql.parquet.mergeSchema` on) this is plain `spark.read.parquet`.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val status =
      try fs.getFileStatus(root)
      catch { case _: java.io.FileNotFoundException => return None }
    val file = if (status.isDirectory) dirFooter(fs.listStatus(root).toSeq) else Some(status)
    file.map { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf))
    }
  }

  // the footer ParquetUtils.inferSchema picks with mergeSchema off, over
  // the listing the file index keeps; None for a partitioned or data-less dir
  private def dirFooter(children: Seq[FileStatus]): Option[FileStatus] = {
    val files = children.filterNot(f => hidden(f.getPath.getName)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val data = files.filterNot(f => summaryFiles(f.getPath.getName))
    if (files.exists(_.isDirectory) || data.isEmpty) None
    else named("_common_metadata").orElse(named("_metadata")).orElse(data.headOption)
  }

  private val summaryFiles = Set("_common_metadata", "_metadata")

  // InMemoryFileIndex.shouldFilterOutPathName
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** Schema-adaptive events loader: the driver has shipped `events.parquet`
    * with both TIMESTAMP(NANOS) and timestamp[us] encodings across rounds, so
    * the loader branches on the *loaded* `ts` type instead of assuming one —
    * the same discipline as the reference's transfer layer, which reads the
    * byte width from the type layout rather than hard-coding it
    * (`host/dpuext/arrow_utils.cc:41-45` `get_byte_width`,
    * `host/partition/partition.h:33-40`).
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so with
    *    `nanosAsLong` the column surfaces as `LongType` epoch nanos; truncate
    *    to microseconds with INTEGER division (`div`) — epoch nanos (~1.7e18)
    *    exceed double's 2^53 exact range, so a float `/ 1000` rounds and lands
    *    one µs off for ~13% of rows (measured: 127/1000 at sf0.001).
    *  - timestamp[us] without tz: loads as `TimestampNTZType`; cast to
    *    session-local `TimestampType` — the library pins the session to UTC
    *    (`engine/GraftSession.scala`), so the cast is wall-clock identity and
    *    `to_date`/window/epoch semantics match both the old nanos path and the
    *    DuckDB oracle (which reads the file as naive TIMESTAMP).
    *  - timestamp[us] with tz (`TimestampType`): already the target type.
    *
    * `nanosAsLong` is a session-level legacy flag with no per-read option;
    * it is inert for non-NANOS files, so setting it unconditionally is safe.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected nanos-as-long, timestamp_ntz, or timestamp")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
