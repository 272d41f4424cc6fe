package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Source/sink round-trips beyond parquet (the reference has no file
  * formats at all — SURVEY §2.3): CSV and JSON write→read preserve the
  * row multiset with explicit schemas.
  */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  private def sample = Tables.lineitem(spark, sf0001)
    .select("l_orderkey", "l_quantity", "l_returnflag")
    .limit(1000)

  test("csv round-trip preserves rows under an explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(sample.schema).csv(dir)
    assert(back.count() == 1000)
    assert(back.as[(Long, Double, String)].collect().sorted.toSeq ==
      sample.as[(Long, Double, String)].collect().sorted.toSeq)
  }

  test("json round-trip preserves rows under an explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    sample.write.mode("overwrite").json(dir)
    val back = spark.read.schema(sample.schema).json(dir)
    assert(back.as[(Long, Double, String)].collect().sorted.toSeq ==
      sample.as[(Long, Double, String)].collect().sorted.toSeq)
  }

  test("hive-partitioned parquet write prunes partitions at read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, sf0001)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    // The partition predicate must be resolved from directory metadata,
    // not row-group scans: it shows as a PartitionFilters entry and the
    // data filters list stays free of event_type.
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("event_type"), scan)
    val expected = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase").count()
    assert(back.count() == expected && expected > 0)
  }

  test("events loader adapts to NANOS, MICROS-NTZ, and MICROS-LTZ timestamp encodings") {
    import org.apache.spark.sql.types._
    // Epoch-µs values, one with a non-zero sub-ms tail, spanning an hour.
    val micros = Seq(1700000000000000L, 1700000000000001L, 1700003600123456L)
    def dir(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_ev_$tag").toString

    val rows = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    val ltzDf = rows.toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").as("ts"))

    // timestamp[us] without tz → reads back as TIMESTAMP_NTZ (driver's current encoding).
    val ntzDir = dir("ntz")
    ltzDf.withColumn("ts", $"ts".cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

    // timestamp[us] adjusted-to-UTC → reads back as TIMESTAMP (pass-through branch).
    val ltzDir = dir("ltz")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    ltzDf.write.mode("overwrite").parquet(s"$ltzDir/events.parquet")

    // TIMESTAMP(NANOS) (the old driver encoding) — Spark cannot write it, so
    // build the file with parquet-java directly. The +999ns tail checks that
    // the loader truncates (integer div) rather than rounds.
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types => PTypes}
    val nanosDir = dir("nanos")
    val schema = PTypes.buildMessage()
      .required(PrimitiveType.PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveType.PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$nanosDir/events.parquet"))
      .withConf(conf).build()
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    rows.foreach { case (id, us) =>
      val g = factory.newGroup()
      g.append("event_id", id)
      g.append("ts", us * 1000L + 999L)
      writer.write(g)
    }
    writer.close()

    def loaded(d: String): Seq[Long] = {
      val df = Tables.events(spark, d)
      assert(df.schema("ts").dataType == TimestampType,
        s"$d: ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
      df.select(unix_micros($"ts")).as[Long].collect().sorted.toSeq
    }
    val expected = micros.sorted
    assert(loaded(ntzDir) == expected)
    assert(loaded(ltzDir) == expected)
    assert(loaded(nanosDir) == expected)
  }

  test("multimodal resize + frame sampling stages") {
    val df = Seq((0L, "some media payload bytes here")).toDF("doc_id", "text")
    val feats = graft.ext.Multimodal.featurize(df, "doc_id", "text", "video/fake")
    val out = graft.ext.Multimodal
      .sampleFrames(graft.ext.Multimodal.resizeMeta(feats, 128, 128), 4)
      .select($"width", $"height", $"resized_width", $"resized_height",
        $"n_frames", size($"frame_idx").as("k"))
      .head()
    assert(out.getAs[Int]("resized_width") <= 128)
    assert(out.getAs[Int]("resized_height") <= 128)
    val k = out.getAs[Int]("k")
    assert(k == math.min(out.getAs[Int]("n_frames"), 4))
  }
  test("XML roundtrip preserves entity-hostile strings verbatim") {
    // the fixture props column exercises quotes/braces; this pins the
    // characters XML itself must entity-escape (&, <, >) plus quotes and
    // unicode — a writer that emits them raw produces unparseable rows
    val rows = Seq(
      (1L, "a & b < c > d"),
      (2L, "\"quoted\" & 'apos'"),
      (3L, "json {\"k\": \"v & w\"}"),
      (4L, "unicode \u00e9\u4e2d\u6587 &amp; literal-entity"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_xml_spec").toString + "/t"
    rows.toDF("id", "s").write.option("rowTag", "row").format("xml").save(dir)
    val back = spark.read.schema("id BIGINT, s STRING")
      .option("rowTag", "row").format("xml").load(dir)
      .as[(Long, String)].collect().sorted.toSeq
    assert(back == rows.sorted)
  }
  test("maxRecordsPerFile caps shard size on write (training-export shape)") {
    // the writer-side knob that bounds shard sizes for a training-data
    // export: no shard may exceed the cap, and no row may be lost
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shards").toString + "/out"
    val n = 1000
    spark.range(n).toDF("id").repartition(2)
      .write.option("maxRecordsPerFile", 150).parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == n)
    val perFile = spark.read.parquet(dir)
      .select(input_file_name().as("f"))
      .groupBy("f").count().as[(String, Long)].collect()
    assert(perFile.forall(_._2 <= 150L),
      s"oversized shard: ${perFile.filter(_._2 > 150L).mkString(",")}")
    assert(perFile.length >= 8) // 1000 rows / 150 cap needs >= 7 shards
  }
  test("StageSource connector write: append accumulates, overwrite replaces, nulls round-trip, pruning reads back") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_spec").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    val a = Seq((1L, Some("x"), 1.5), (2L, None, -0.25))
      .toDF("k", "s", "v")
    a.write.format(fmt).option("path", dir).mode("overwrite").save()
    // append: second snapshot adds rows, first write's rows survive
    Seq((3L, Some("z"), 0.0)).toDF("k", "s", "v")
      .write.format(fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.schema.fieldNames.toSeq == Seq("k", "s", "v"))
    val rows = back.as[(Long, Option[String], Double)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, Some("x"), 1.5), (2L, None, -0.25), (3L, Some("z"), 0.0)),
      rows.toString)
    // column pruning: a projection reads back just that column
    val pruned = spark.read.format(fmt).option("path", dir).load()
      .select("s").as[Option[String]].collect().toSet
    assert(pruned == Set(Some("x"), None, Some("z")))
    // overwrite: truncate-at-commit replaces the whole snapshot
    Seq((9L, Some("w"), 9.0)).toDF("k", "s", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val after = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, Option[String], Double)].collect().toSeq
    assert(after == Seq((9L, Some("w"), 9.0)), after.toString)
    // an unsupported column type is rejected at the table, not mid-write
    val e = intercept[Exception] {
      Seq((1L, Array(1.toByte))).toDF("k", "b")
        .write.format(fmt).option("path", dir + "2").mode("overwrite").save()
    }
    assert(e.getMessage.contains("does not support"), e.getMessage)
  }

  test("StageSource zone maps skip whole files on comparison predicates") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_zm").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    // range-partition on k so the committed files carry disjoint k ranges
    // (the layout a pay-at-write pipeline produces)
    spark.range(10000).select(col("id").as("k"),
        (col("id") % 97).cast("double").as("v"))
      .repartitionByRange(8, col("k"))
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val back = spark.read.format(fmt).option("path", dir).load()
      .filter(col("k") < 1000)
    val got = back.agg(count(lit(1)), sum(col("k"))).head()
    assert(got.getLong(0) == 1000 && got.getLong(1) == 999L * 1000 / 2)
    // the executed scan read a strict subset of the 8 files …
    val plan = back.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no file-skip evidence in scan description:\n$plan")
    assert(m.get.group(2).toInt == 8, plan)
    assert(m.get.group(1).toInt < 8 && m.get.group(1).toInt >= 1, plan)
    // … and the skipping filters stay residual (a FilterExec survives):
    // zone maps prune files, they never filter rows
    assert(plan.contains("Filter"), plan)
    // a filter matching nothing prunes everything, returns empty not error
    assert(spark.read.format(fmt).option("path", dir).load()
      .filter(col("k") > 1000000).count() == 0)
    // append keeps old zone maps valid: new snapshot's rows still found
    Seq((20000L, 1.0)).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("append").save()
    val hit = spark.read.format(fmt).option("path", dir).load()
      .filter(col("k") === 20000L)
    assert(hit.count() == 1)
    val plan2 = hit.queryExecution.executedPlan.toString
    val m2 = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan2)
    assert(m2.isDefined && m2.get.group(2).toInt == 9 &&
      m2.get.group(1).toInt == 1, plan2)
  }

  test("string zone maps skip whole files; truncated multi-byte bounds stay conservative under fuzz") {
    import graft.sources.v2.StageSource
    val fmt = "graft.sources.v2.StageSource"
    // deterministic leg: a lang-style column, range-clustered so files
    // carry disjoint string ranges (the layout an ingest pipeline
    // writes) — `lang = 'en'` must read a strict subset of files
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_szm").toString + "/t"
    val langs = Seq("ar", "de", "en", "es", "fr", "ja", "ko", "zh")
    spark.range(8000)
      .select(col("id").as("k"),
        element_at(lit(langs.toArray), (col("id") % 8 + 1).cast("int")).as("lang"))
      .repartitionByRange(8, col("lang"))
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val q = spark.read.format(fmt).option("path", dir).load()
      .filter(col("lang") === "en")
    assert(q.count() == 1000)
    val plan = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(2).toInt >= 2 &&
      m.get.group(1).toInt < m.get.group(2).toInt,
      s"no string skip evidence:\n$plan")
    // fuzz leg: strings straddling the 16-byte truncation boundary —
    // shared 16-byte prefixes differing only beyond it, multi-byte
    // scripts (2/3/4-byte UTF-8), and boundary literals. Oracle filters
    // row-at-a-time in UTF-8 BYTE order (Spark's string order).
    val rnd = new scala.util.Random(19L)
    val corpus = Seq(
      "", "a", "én", "ß", "日本語テキストの行", "🙂🙃🙂",
      "aaaaaaaaaaaaaaaa",          // exactly 16 bytes
      "aaaaaaaaaaaaaaaaZ",         // same 16-byte prefix, longer
      "aaaaaaaaaaaaaaaazzzzz",     // differs only past truncation
      "ééééééééé",                 // 18 bytes of 2-byte chars (truncates mid-char)
      "ééééééééX",
      "zzzzzzzzzzzzzzzzzzzz")
    def randStr(): String =
      if (rnd.nextBoolean()) corpus(rnd.nextInt(corpus.size))
      else Seq.fill(1 + rnd.nextInt(20))(
        "aé日🙂z".charAt(rnd.nextInt(5))).mkString // lone surrogates avoided below
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_stage_szf").toString + "/t"
    val rows = Seq.tabulate(400) { i =>
      // drop lone surrogate halves a random charAt over "🙂" can produce
      val s0 = randStr().filterNot(c => Character.isSurrogate(c))
      (i.toLong, if (rnd.nextInt(10) == 0) null else s0)
    }
    rows.toDF("k", "s")
      .repartitionByRange(6, col("s"))
      .write.format(fmt).option("path", dir2).mode("overwrite").save()
    val back = spark.read.format(fmt).option("path", dir2).load()
    val full = back.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(full.length == 400)
    def byteCmp(a: String, b: String): Int = StageSource.compareBytes(
      org.apache.spark.unsafe.types.UTF8String.fromString(a).getBytes,
      org.apache.spark.unsafe.types.UTF8String.fromString(b).getBytes)
    val ops = Seq("<", "<=", ">", ">=", "=")
    var skippedAtLeastOnce = false
    for (_ <- 0 until 60) {
      val lit0 = randStr().filterNot(c => Character.isSurrogate(c))
      val op = ops(rnd.nextInt(ops.size))
      val got = back.filter(expr(
        s"s $op '${lit0.replace("\\", "\\\\").replace("'", "\\'")}'"))
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = full.filter { case (_, s) =>
        s != null && (op match {
          case "<" => byteCmp(s, lit0) < 0
          case "<=" => byteCmp(s, lit0) <= 0
          case ">" => byteCmp(s, lit0) > 0
          case ">=" => byteCmp(s, lit0) >= 0
          case _ => s == lit0
        })
      }.map(_._1).sorted.toSeq
      assert(got == want, s"s $op '$lit0': got ${got.size}, want ${want.size}")
      val fm = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(
        back.filter(expr(s"s $op '${lit0.replace("\\", "\\\\").replace("'", "\\'")}'"))
          .queryExecution.executedPlan.toString)
      if (fm.exists(x => x.group(1).toInt < x.group(2).toInt))
        skippedAtLeastOnce = true
    }
    assert(skippedAtLeastOnce, "string zone maps never pruned a file")
  }

  test("bucket(n,col) staged tables: exchange-free SPJ, one-bucket equality pruning, loud declines on inexact ops") {
    import graft.sources.v2.StageSource
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_bk").toString
    spark.conf.set("spark.sql.catalog.stagebk", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagebk.root", root)
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      spark.sql("CREATE TABLE stagebk.default.fact (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(8, k))")
      spark.sql("INSERT INTO stagebk.default.fact " +
        "SELECT id, id * 3 FROM range(0, 10000)")
      spark.sql("CREATE TABLE stagebk.default.dim (k BIGINT, label STRING) " +
        "PARTITIONED BY (bucket(8, k))")
      spark.sql("INSERT INTO stagebk.default.dim " +
        "SELECT id, concat('l', id) FROM range(0, 1000)")
      val dir = new java.io.File(new java.io.File(root, "default"), "fact")
        .getAbsolutePath
      // the write routed by the SAME hash the catalog's SQL bucket() binds
      assert(StageSource.readPartCols(dir).toSeq == Seq("bucket(8,k)"))
      val parts = StageSource.readParts(dir)
      assert(parts.values.map(_.head).toSet.subsetOf(
        (0 until 8).map(_.toString).toSet))
      assert(spark.sql(
        "SELECT COUNT(DISTINCT stagebk.default.bucket(8, k)) FROM stagebk.default.fact")
        .head().getLong(0) == 8L)
      // storage-partitioned join: both sides report bucket(8,k) — the
      // join subtree plans with NO exchange (the r18 width-knob win, now
      // on real committed data)
      val j = spark.table("stagebk.default.fact").hint("merge")
        .join(spark.table("stagebk.default.dim"), "k")
      j.queryExecution.toRdd.count(): Unit
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.linesIterator.exists(_.contains("Exchange ")),
        s"an exchange crept into the bucketed SPJ:\n${plan.take(2000)}")
      assert(j.count() == 1000L)
      assert(j.agg(sum("cents")).head().getLong(0) == (0L until 1000L).map(_ * 3).sum)
      // equality on the bucketed column prunes to ONE bucket's files
      val point = spark.table("stagebk.default.fact").filter(col("k") === 123L)
      assert(point.count() == 1L)
      val pplan = point.queryExecution.executedPlan.toString
      val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(pplan)
      assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
        s"bucket pruning left the full file list:\n$pplan")
      // IN prunes to the union of the named keys' buckets
      assert(spark.table("stagebk.default.fact")
        .filter(col("k").isin(5L, 9000L)).count() == 2L)
      // inexact operations DECLINE loudly: REPLACE WHERE on a bucketed
      // column would half-replace a hash bucket's mixed keys
      val e = intercept[Exception] {
        spark.range(0, 10).select(col("id").as("k"), (col("id") * 3).as("cents"))
          .writeTo("stagebk.default.fact").overwrite(col("k") === 5L)
      }
      assert(e.getMessage.contains("not decidable"), e.getMessage)
      // bucket over a non-integral column declines at DDL time
      val e2 = intercept[Exception] {
        spark.sql("CREATE TABLE stagebk.default.bad (s STRING) " +
          "PARTITIONED BY (bucket(4, s))")
      }
      assert(e2.getMessage.contains("integral column"), e2.getMessage)
      // PATH reads of a bucketed table work (the unresolvable reported
      // transform degrades to an opaque layout); PATH writes decline
      // with an actionable message, not Spark's planner error (review
      // r19 — the bucket clustering resolves only through the catalog)
      val fmt = "graft.sources.v2.StageSource"
      assert(spark.read.format(fmt).option("path", dir).load()
        .count() == 10000L)
      val e3 = intercept[Exception] {
        spark.range(0, 5).select(col("id").as("k"), (col("id") * 3).as("cents"))
          .write.format(fmt).option("path", dir).mode("append").save()
      }
      assert(e3.getMessage.contains("through its catalog"), e3.getMessage)
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("StageSource partitioned table: one shard per value, pruning, lineage, decidable delete") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_part").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0), (4L, "c", 4.0))
      .toDF("k", "g", "v")
      .write.format(fmt).option("path", dir).option("partition_by", "g")
      .mode("overwrite").save()
    // the write's required clustering routed one committed file per value
    val files = graft.sources.v2.StageSource.dataFiles(dir)
    assert(files.length == 3, files.map(_.getName).mkString(","))
    // partition pruning: equality on the partition column reads 1/3 files
    val back = spark.read.format(fmt).option("path", dir).load()
    val one = back.filter(col("g") === "a")
    assert(one.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.0), (3L, "a", 3.0)))
    val plan = one.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.exists(x => x.group(1).toInt == 1 && x.group(2).toInt == 3), plan)
    // lineage: `_file` is hidden from * but materializes when referenced,
    // and each partition value reports exactly one distinct file
    assert(!back.schema.fieldNames.contains("_file"))
    val lin = back.select(col("g"), col("_file"))
      .groupBy("g").agg(countDistinct(col("_file")).as("nf"))
      .as[(String, Long)].collect().toMap
    assert(lin == Map("a" -> 1L, "b" -> 1L, "c" -> 1L), lin.toString)
    // decidable DELETE drops whole files; the survivors are untouched
    val table = new graft.sources.v2.StageTable(dir,
      back.schema, Array("g"))
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    def eq(c: String, v: String): Predicate =
      new Predicate("=", Array(Expressions.column(c),
        org.apache.spark.sql.graftshim.V2ExprShim.utf8Literal(v)))
    assert(table.canDeleteWhere(Array(eq("g", "a"))))
    // a non-partition column is NOT decidable from the layout — declined
    assert(!table.canDeleteWhere(Array(eq("k", "1"))))
    table.deleteWhere(Array(eq("g", "a")))
    val after = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String, Double)].collect().toSet
    assert(after == Set((2L, "b", 2.0), (4L, "c", 4.0)), after.toString)
    assert(graft.sources.v2.StageSource.dataFiles(dir).length == 2)
  }

  test("StageCatalog lifecycle: create/list/exists/drop, double-create and ALTER fail loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_cat").toString
    spark.conf.set("spark.sql.catalog.stagespec", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagespec.root", root)
    spark.sql("CREATE TABLE stagespec.default.t1 (k BIGINT, g STRING) PARTITIONED BY (g)")
    // empty table is a complete zero-file snapshot: readable immediately
    assert(spark.sql("SELECT * FROM stagespec.default.t1").count() == 0)
    spark.sql("INSERT INTO stagespec.default.t1 VALUES (1, 'x'), (2, 'y')")
    assert(spark.sql("SELECT sum(k) FROM stagespec.default.t1").head().getLong(0) == 3L)
    // second INSERT appends (snapshot accumulates)
    spark.sql("INSERT INTO stagespec.default.t1 VALUES (10, 'x')")
    assert(spark.sql("SELECT count(*) FROM stagespec.default.t1 WHERE g = 'x'")
      .head().getLong(0) == 2L)
    assert(spark.sql("SHOW TABLES IN stagespec.default").collect()
      .map(_.getString(1)).contains("t1"))
    intercept[Exception] {
      spark.sql("CREATE TABLE stagespec.default.t1 (k BIGINT) ")
    }
    // append-only ADD COLUMN is supported (r17); destructive shapes
    // still decline loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE stagespec.default.t1 RENAME COLUMN k TO kk")
    }
    // DELETE on a non-partition predicate routes through the row-level
    // (copy-on-write) path: a full-group rewrite, correct content, a new
    // snapshot — not the metadata fast path, not an error
    val vBefore = graft.sources.v2.StageSource.latestVersion(
      s"$root/default/t1").get
    spark.sql("DELETE FROM stagespec.default.t1 WHERE k = 1")
    assert(spark.sql("SELECT k FROM stagespec.default.t1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 10L))
    assert(graft.sources.v2.StageSource.latestVersion(
      s"$root/default/t1").get > vBefore, "rewrite must commit a new snapshot")
    spark.sql("DROP TABLE stagespec.default.t1")
    assert(spark.sql("SHOW TABLES IN stagespec.default").isEmpty)
  }

  test("MERGE INTO / UPDATE: copy-on-write row-level ops commit correct snapshots") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_merge").toString
    spark.conf.set("spark.sql.catalog.stagemg", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagemg.root", root)
    spark.sql("CREATE TABLE stagemg.default.t (k BIGINT, status STRING, cents BIGINT)")
    spark.sql("INSERT INTO stagemg.default.t VALUES (1,'A',100), (2,'A',200), (3,'B',300)")
    Seq((2L, 999L), (4L, 400L)).toDF("k", "cents")
      .createOrReplaceTempView("merge_src")
    // matched → update, not matched → insert (the canonical upsert)
    spark.sql("""MERGE INTO stagemg.default.t t USING merge_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET status = 'U', cents = s.cents
      WHEN NOT MATCHED THEN INSERT (k, status, cents) VALUES (s.k, 'N', s.cents)""")
    val afterMerge = spark.sql(
      "SELECT k, status, cents FROM stagemg.default.t ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq
    assert(afterMerge == Seq((1L, "A", 100L), (2L, "U", 999L),
      (3L, "B", 300L), (4L, "N", 400L)), afterMerge.toString)
    // UPDATE through the same copy-on-write path
    spark.sql("UPDATE stagemg.default.t SET cents = cents + 1 WHERE status = 'A'")
    assert(spark.sql("SELECT sum(cents) FROM stagemg.default.t")
      .head().getLong(0) == 100L + 1 + 999 + 300 + 400)
    // MERGE with not-matched-by-source delete (the sync idiom)
    spark.sql("""MERGE INTO stagemg.default.t t USING merge_src s ON t.k = s.k
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(spark.sql("SELECT k FROM stagemg.default.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 4L))
    // the old snapshots remain readable: time travel across the merges
    val dir = s"$root/default/t"
    val versions = graft.sources.v2.StageSource.manifestVersions(dir)
    assert(versions.size >= 4, versions.toString)
    assert(spark.sql(s"SELECT count(*) FROM stagemg.default.t VERSION AS OF ${versions.head}")
      .head().getLong(0) == 3L)
  }

  test("runtime group filtering: a selective MERGE rewrites only the affected file") {
    // Iceberg's selective copy-on-write, through Spark's
    // RowLevelOperationRuntimeGroupFiltering: the command's condition is
    // evaluated first to collect the DISTINCT _file values of matching
    // rows, the rewrite scan prunes to those files, and commit replaces
    // exactly them — untouched shards carry over into the new snapshot
    // byte-identical, never rewritten.
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_rgf").toString
    spark.conf.set("spark.sql.catalog.stagergf", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagergf.root", root)
    spark.sql("CREATE TABLE stagergf.default.t (k BIGINT, v BIGINT)")
    // three separate commits → three data files with disjoint key ranges
    spark.sql("INSERT INTO stagergf.default.t VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO stagergf.default.t VALUES (100, 1000), (200, 2000)")
    spark.sql("INSERT INTO stagergf.default.t VALUES (5000, 9)")
    val dir = s"$root/default/t"
    val before = graft.sources.v2.StageSource
      .snapshotFiles(dir, None).map(_.getName).toSet
    assert(before.size >= 3, before.toString)
    // which shards actually hold the keys the source will hit
    val affected = spark.sql(
      "SELECT DISTINCT _file FROM stagergf.default.t WHERE k IN (100, 200)")
      .as[String].collect().toSet
    assert(affected.nonEmpty && affected.size < before.size,
      s"fixture must leave untouched shards: affected=$affected of $before")
    Seq((100L, 7L), (200L, 7L)).toDF("k", "dv")
      .createOrReplaceTempView("rgf_src")
    spark.sql("""MERGE INTO stagergf.default.t t USING rgf_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.dv""")
    val after = graft.sources.v2.StageSource
      .snapshotFiles(dir, None).map(_.getName).toSet
    // untouched shards carry over under their ORIGINAL names; exactly
    // the affected ones were replaced
    assert((before diff after) == affected,
      s"rewritten set != affected set: before=$before after=$after affected=$affected")
    assert((before intersect after) == (before diff affected),
      s"untouched shards were rewritten: before=$before after=$after")
    // content is the full post-image
    val rows = spark.sql("SELECT k, v FROM stagergf.default.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L), (100L, 7L), (200L, 7L),
      (5000L, 9L)), rows.toString)
  }

  test("StageSource streaming sink: epoch ledger makes at-least-once delivery exactly-once") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_sink").toString + "/t"
    val q = spark.readStream.format("graft.sources.v2.SeqSource")
      .option("n", 90000L).option("slices", 4)
      .option("maxRowsPerBatch", 30000L)
      .load()
      .writeStream.format("graft.sources.v2.StageSource")
      .option("path", dir)
      .option("checkpointLocation", dir + "/.ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // three bounded epochs committed, each recorded in the ledger and
    // each file name carrying its epoch tag
    val ledger = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_epochs.txt").toPath)).linesIterator.toSeq
    assert(ledger.length == 3, ledger.mkString(","))
    val files = graft.sources.v2.StageSource.dataFiles(dir).map(_.getName)
    assert(files.forall(_.matches("part-.*-e\\d+-.*\\.bin")),
      files.mkString(","))
    val back = spark.read.format("graft.sources.v2.StageSource")
      .option("path", dir).load()
    assert(back.count() == 90000L)
    assert(back.agg(sum(col("id"))).head().getLong(0) == 89999L * 90000 / 2)
    // at-least-once → exactly-once: re-offering a committed epoch OF THE
    // SAME QUERY is a no-op (the ledger skips it; content and file census
    // are unchanged). The ledger is keyed `<queryId>:<epoch>`, so the
    // re-offer must carry the original query's id.
    val origQueryId = ledger.head.split(':')(0)
    assert(ledger.toSet == (0 to 2).map(e => s"$origQueryId:$e").toSet,
      ledger.mkString(","))
    val sw = new graft.sources.v2.StageStreamingWrite(
      dir, back.schema, origQueryId, truncate = false, Array.empty)
    val before = graft.sources.v2.StageSource.dataFiles(dir).map(_.getName).toSet
    // a real staged file rides the re-offered epoch: the ledger must
    // refuse to move it into the table
    val st = new java.io.File(dir, ".staging"); st.mkdirs()
    val ghost = new java.io.File(st, s"tmp-$origQueryId-0-0-0.bin")
    java.nio.file.Files.write(ghost.toPath, Array[Byte](0, 1, 2, 3)): Unit
    sw.commit(2L, Array(graft.sources.v2.StageCommit(Array(
      graft.sources.v2.StageFileCommit(ghost.getAbsolutePath, "", 1, Array.empty)))))
    assert(graft.sources.v2.StageSource.dataFiles(dir).map(_.getName).toSet == before)
    assert(!ghost.exists(), "re-delivered epoch's staging not cleaned")
    assert(spark.read.format("graft.sources.v2.StageSource")
      .option("path", dir).load().count() == 90000L)
    // a SECOND streaming query (fresh checkpoint → it starts again at
    // epoch 0) must NOT be deduplicated against the first query's epochs
    // — the pre-fix epoch-only ledger silently discarded its batches
    val q2 = spark.readStream.format("graft.sources.v2.SeqSource")
      .option("n", 1000L).option("slices", 2)
      .load()
      .writeStream.format("graft.sources.v2.StageSource")
      .option("path", dir)
      .option("checkpointLocation", dir + "/.ckpt2")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q2.awaitTermination() finally q2.stop()
    assert(spark.read.format("graft.sources.v2.StageSource")
      .option("path", dir).load().count() == 91000L,
      "second query's epoch-0 batch was wrongly deduplicated")
  }

  test("REPLACE WHERE: one partition recomputed, survivors carried; finer predicates decline") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_rw").toString
    spark.conf.set("spark.sql.catalog.stagerw", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagerw.root", root)
    spark.sql("CREATE TABLE stagerw.default.t (k BIGINT, g STRING) PARTITIONED BY (g)")
    spark.sql("INSERT INTO stagerw.default.t VALUES (1,'a'), (2,'b'), (3,'a')")
    val dir = new java.io.File(new java.io.File(root, "default"), "t")
    val beforeB = graft.sources.v2.StageSource
      .readParts(dir.getAbsolutePath).collectFirst {
        case (f, pv) if pv.sameElements(Array("b")) => f
      }.get
    spark.sql("INSERT INTO stagerw.default.t REPLACE WHERE g = 'a' VALUES (10,'a')")
    // content: partition a replaced, partition b untouched
    assert(spark.sql("SELECT k, g FROM stagerw.default.t")
      .as[(Long, String)].collect().toSet == Set((10L, "a"), (2L, "b")))
    // and b's file is the SAME committed file, carried by manifest surgery
    val live = graft.sources.v2.StageSource
      .snapshotFiles(dir.getAbsolutePath, None).map(_.getName).toSet
    assert(live.contains(beforeB), s"b's shard was rewritten: $live")
    // a non-partition predicate declines at plan time, nothing replaced
    intercept[Exception] {
      spark.sql("INSERT INTO stagerw.default.t REPLACE WHERE k = 2 VALUES (99,'z')")
    }
    assert(spark.sql("SELECT count(*) FROM stagerw.default.t").head().getLong(0) == 2)
    spark.sql("DROP TABLE stagerw.default.t")
  }

  test("SQL VERSION AS OF pins a snapshot through the catalog") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_vao").toString
    spark.conf.set("spark.sql.catalog.stagevao", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagevao.root", root)
    spark.sql("CREATE TABLE stagevao.default.t (k BIGINT)")
    spark.sql("INSERT INTO stagevao.default.t VALUES (1), (2)") // v1
    spark.sql("INSERT INTO stagevao.default.t VALUES (3)") // v2
    def q(sql: String) = spark.sql(sql).as[Long].collect().toSet
    assert(q("SELECT k FROM stagevao.default.t VERSION AS OF 1") == Set(1L, 2L))
    assert(q("SELECT k FROM stagevao.default.t VERSION AS OF 2") == Set(1L, 2L, 3L))
    assert(q("SELECT k FROM stagevao.default.t") == Set(1L, 2L, 3L))
    // the pinned version is visible in the scan description
    val plan = spark.sql("SELECT k FROM stagevao.default.t VERSION AS OF 1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("version=1"), plan.take(600))
    // a missing version and timestamp travel both fail loudly
    val e = intercept[Exception] {
      spark.sql("SELECT k FROM stagevao.default.t VERSION AS OF 9").collect()
    }
    assert(e.getMessage.contains("no snapshot version 9"), e.getMessage)
    intercept[Exception] {
      spark.sql("SELECT k FROM stagevao.default.t TIMESTAMP AS OF '2026-01-01'").collect()
    }
    spark.sql("DROP TABLE stagevao.default.t")
  }

  test("StageSource time travel: snapshots pin file sets; vacuum expires history loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_tt").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save() // v1
    Seq((3L, 30.0)).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("append").save() // v2
    Seq((9L, 90.0)).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save() // v3
    def at(v: Int) = spark.read.format(fmt).option("path", dir)
      .option("version_as_of", v).load().as[(Long, Double)].collect().toSet
    assert(at(1) == Set((1L, 10.0), (2L, 20.0)))
    assert(at(2) == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    assert(at(3) == Set((9L, 90.0)))
    // the default read is the latest snapshot — the logical overwrite
    // REPLACED content without deleting v1/v2's bytes
    val latest = spark.read.format(fmt).option("path", dir).load()
    assert(latest.as[(Long, Double)].collect().toSet == Set((9L, 90.0)))
    assert(graft.sources.v2.StageSource.dataFiles(dir).length >= 2,
      "logical overwrite must retain prior snapshots' files")
    // the pinned version is visible in the scan description
    val plan = spark.read.format(fmt).option("path", dir)
      .option("version_as_of", 1).load()
      .queryExecution.executedPlan.toString
    assert(plan.contains("version=1"), plan.take(600))
    // a nonexistent version fails loudly, listing what exists
    val e = intercept[Exception] { at(7) }
    assert(e.getMessage.contains("no snapshot version 7"), e.getMessage)
    // vacuum expires history: only v3's files + manifest survive,
    // pre-vacuum versions fail loudly, the latest read is untouched
    graft.sources.v2.StageSource.vacuum(dir)
    assert(graft.sources.v2.StageSource.dataFiles(dir).length == 1)
    assert(graft.sources.v2.StageSource.manifestVersions(dir) == Seq(3))
    intercept[Exception] { at(1) }
    assert(spark.read.format(fmt).option("path", dir).load()
      .as[(Long, Double)].collect().toSet == Set((9L, 90.0)))
  }

  test("SeqSource closed-form SUM stays exact at the domain cap; beyond it the table fails loudly") {
    // ADVICE r14: the arithmetic-series pushdown used (ends × cnt) / 2,
    // whose intermediate product overflows Long for ranges near the top
    // of the domain — a silently wrong aggregate where the declined row
    // path would have been right. The fix halves the even factor first
    // and caps n at 2^32 (the largest domain whose every sub-range sum
    // fits in Long). Exactness is checked against BigInt at the worst
    // case: the full top half of the maximal domain.
    val top = 1L << 32
    val df = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", top).option("slices", 8).load()
      .filter(col("id") >= top / 2)
      .agg(sum(col("id")).as("s"), count(lit(1)).as("c"))
    val row = df.head()
    val expected = (BigInt(top / 2) + BigInt(top - 1)) * BigInt(top / 2) / 2
    assert(expected.isValidLong, "test premise: worst-case sum fits in Long")
    assert(row.getLong(0) == expected.toLong,
      s"closed-form sum ${row.getLong(0)} != $expected")
    assert(row.getLong(1) == top / 2)
    // a domain the closed form cannot serve exactly is rejected at table
    // construction, not answered wrong
    val e = intercept[Exception] {
      spark.read.format("graft.sources.v2.SeqSource")
        .option("n", top + 1).load().count()
    }
    assert(e.getMessage != null && e.getMessage.contains("2^32"),
      s"unexpected failure mode: $e")
  }

  test("partition DELETE with a literal-first predicate deletes the right side") {
    // ADVICE r15: V2ExpressionBuilder preserves SQL operand order, so
    // `WHERE 5 < part` arrives literal-first; an order-blind evaluation
    // read it as `part < 5` — inverted — and physically deleted the
    // WRONG partition files (silent data loss on the takedown path).
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_litfirst").toString
    spark.conf.set("spark.sql.catalog.stagelf", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagelf.root", root)
    spark.sql("CREATE TABLE stagelf.default.t (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO stagelf.default.t VALUES (1, 1), (2, 2), (3, 3), (4, 4)")
    // literal-first through SQL: keep p <= 3, delete p > 3
    spark.sql("DELETE FROM stagelf.default.t WHERE 3 < p")
    val left = spark.sql("SELECT p FROM stagelf.default.t")
      .as[Long].collect().toSet
    assert(left == Set(1L, 2L, 3L),
      s"literal-first DELETE removed the wrong partitions: kept $left")
    // and unit-level, both orders of the same predicate agree
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.graftshim.V2ExprShim
    val colFirst = new Predicate("<", Array(
      Expressions.column("p"), V2ExprShim.longLiteral(3L)))
    val litFirst = new Predicate(">", Array(
      V2ExprShim.longLiteral(3L), Expressions.column("p")))
    val types = Array[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType)
    for (pv <- Seq("2", "3", "4")) {
      val a = graft.sources.v2.StageTable.matches(
        colFirst, Array("p"), types, Array(pv))
      val b = graft.sources.v2.StageTable.matches(
        litFirst, Array("p"), types, Array(pv))
      assert(a == b && a == (pv.toLong < 3L), s"pv=$pv col=$a lit=$b")
    }
  }

  test("integral partition keys compare exactly beyond 2^53") {
    // ADVICE r15: a Double detour collapsed distinct longs with
    // |v| > 2^53, so pruning / REPLACE WHERE / partition DELETE could
    // match or drop the wrong files. Adjacent keys at 2^53 must stay
    // distinct under the exact long compare.
    import org.apache.spark.sql.types.LongType
    val big = (1L << 53) + 1
    val rendered = big.toString
    assert(!graft.sources.v2.StageSource.partMatches(
      LongType, rendered, "=", java.lang.Long.valueOf(1L << 53)),
      "adjacent longs above 2^53 compared equal")
    assert(graft.sources.v2.StageSource.partMatches(
      LongType, rendered, ">", java.lang.Long.valueOf(1L << 53)))
    assert(graft.sources.v2.StageSource.partMatches(
      LongType, rendered, "=", java.lang.Long.valueOf(big)))
  }

  test("__rows is reserved: catalog DDL rejects it like the path API") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_rows").toString
    spark.conf.set("spark.sql.catalog.stagerows", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagerows.root", root)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE stagerows.default.bad (k BIGINT, __rows BIGINT)")
    }
    assert(e.getMessage.contains("__rows"), e.getMessage)
  }

  test("concurrent appends to one table: both commits' rows survive") {
    // ADVICE r15: two committers both computed latest+1 and the second
    // manifest write clobbered the first — its rows vanished from every
    // snapshot. The manifest claim is now atomic (CREATE_NEW + retry on
    // a re-read base), and same-process commits serialize on a lock.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_conc").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    Seq((0L, 0.0)).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit =
            Seq((i.toLong, i.toDouble)).toDF("k", "v")
              .write.format(fmt).option("path", dir).mode("append").save()
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, Double)].collect().toSet
    assert(back == (0 to 4).map(i => (i.toLong, i.toDouble)).toSet,
      s"a concurrent commit's rows vanished: $back")
    // five commits → five distinct snapshot versions, none clobbered
    assert(graft.sources.v2.StageSource.manifestVersions(dir) == (1 to 5),
      graft.sources.v2.StageSource.manifestVersions(dir).toString)
  }

  test("timestamp and decimal columns round-trip with zone maps and partition pruning") {
    // r15 verdict #5: a real staging table needs TimestampType (the
    // events schema) and DecimalType (the exact-currency discipline).
    // Timestamps ride the framing as epoch micros, decimals as unscaled
    // bytes — both exact; zone maps skip files on both.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_typed").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    val base = 1709251200L // 2024-03-01T00:00:00Z, epoch seconds
    val df = spark.sql(
      s"""SELECT id AS k,
         |       timestamp_micros((${base}L + id) * 1000000 + 7) AS ts,
         |       CAST(id * 1.01 AS DECIMAL(12,2)) AS price,
         |       CAST(id % 3 AS BIGINT) AS day
         |FROM range(0, 300)""".stripMargin)
    df.write.format(fmt).option("path", dir)
      .option("partition_by", "day").mode("overwrite").save()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.schema("price").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    // exact round-trip (timestamps to the microsecond, decimals to the
    // last digit): multiset difference both ways is empty
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // partition pruning on the long day column still works alongside
    assert(back.filter(col("day") === 1L).count() == 100)
    // zone maps: a timestamp range predicate and a decimal predicate are
    // both remembered as skip filters (values interleave mod 3 across the
    // 3 partition files, so ranges overlap — assert the plan carries the
    // pushed skip filter and the answers stay exact)
    val plan = back.filter(col("price") > new java.math.BigDecimal("250"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("skipBy="), plan.take(800))
    assert(back.filter(col("price") > new java.math.BigDecimal("250"))
      .count() === df.filter(col("price") > lit(new java.math.BigDecimal("250"))).count())
    val cut = java.time.Instant.ofEpochSecond(base + 120)
    val tsPlan = back.filter(col("ts") >= lit(cut))
      .queryExecution.executedPlan.toString
    assert(tsPlan.contains("skipBy="), tsPlan.take(800))
    assert(back.filter(col("ts") >= lit(cut)).count() === 180)
  }

  test("TIMESTAMP AS OF resolves through recorded commit times; pre-feature tables decline") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_tt").toString
    spark.conf.set("spark.sql.catalog.stagett", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagett.root", root)
    spark.sql("CREATE TABLE stagett.default.t (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO stagett.default.t VALUES (1, 1.0)")
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO stagett.default.t VALUES (2, 2.0)")
    // an instant between the commits resolves to snapshot 1
    val asOf1 = spark.sql(
      s"SELECT k FROM stagett.default.t TIMESTAMP AS OF " +
        s"timestamp_millis($afterV1)").as[Long].collect().toSet
    assert(asOf1 == Set(1L), asOf1.toString)
    // an instant after the last commit sees the full table
    val asOfNow = spark.sql(
      s"SELECT k FROM stagett.default.t TIMESTAMP AS OF " +
        s"timestamp_millis(${System.currentTimeMillis()})")
      .as[Long].collect().toSet
    assert(asOfNow == Set(1L, 2L))
    // an instant before the first commit fails loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM stagett.default.t TIMESTAMP AS OF " +
        "timestamp'2000-01-01 00:00:00'").collect()
    }
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
    // a table with a pre-feature (untimed) live snapshot declines loudly
    val dir = new java.io.File(new java.io.File(root, "default"), "t")
    val commits = new java.io.File(dir, graft.sources.v2.StageSource.CommitsFile)
    val saved = java.nio.file.Files.readAllBytes(commits.toPath)
    java.nio.file.Files.write(commits.toPath,
      new String(saved).linesIterator.drop(1)
        .mkString("", "\n", "\n").getBytes): Unit
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM stagett.default.t TIMESTAMP AS OF " +
        s"timestamp_millis(${System.currentTimeMillis()})").collect()
    }
    assert(e2.getMessage.contains("VERSION AS OF"), e2.getMessage)
  }

  // -------------------------------------------- r17: commit-protocol holes

  /** Stage one valid framed file through the real writer and return the
    * job-commit message — the unit the conflict/ledger specs feed
    * [[graft.sources.v2.StageCommitter.commit]] directly (the race being
    * tested lives between SCAN planning and JOB commit, so the spec
    * drives the commit seam, not the DataFrame API whose in-process lock
    * would serialize the whole operation).
    */
  private def stagedCommit(
      dir: String, schema: org.apache.spark.sql.types.StructType,
      qid: String, rows: Seq[(Long, Double)])
      : Array[org.apache.spark.sql.connector.write.WriterCommitMessage] = {
    val w = new graft.sources.v2.StageDataWriter(
      dir, schema, qid, 0, 0L, Array.empty)
    rows.foreach { case (k, v) =>
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](k, v)))
    }
    Array(w.commit())
  }

  test("concurrent row-level rewrites: the loser aborts, no update is silently lost") {
    // r16 verdict #1: a copy-on-write commit whose scanned files were
    // rewritten or deleted by a concurrent commit must ABORT (snapshot
    // isolation, Iceberg's validation), not re-apply its stale rewrite —
    // both rewrites were computed from the OLD contents, so proceeding
    // silently discards the winner's changes (lost update / write-skew).
    import graft.sources.v2.{StageCommitter, StageSource}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_cowrace").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val schema = spark.read.format(fmt).option("path", dir).load().schema
    val scannedByBoth = StageSource.snapshotFiles(dir, None).map(_.getName).toSet
    assert(scannedByBoth.size == 1, scannedByBoth.toString)
    // operation B (the winner) commits its rewrite of the scanned file
    StageCommitter.commit(dir, schema, Array.empty, "qwinner",
      stagedCommit(dir, schema, "qwinner", Seq((1L, 11.0), (2L, 21.0))),
      truncate = false, epoch = None, replaceFiles = Some(scannedByBoth))
    // operation A scanned the SAME file before B committed — its commit
    // must abort loudly instead of dropping B's rewrite
    val e = intercept[IllegalStateException] {
      StageCommitter.commit(dir, schema, Array.empty, "qloser",
        stagedCommit(dir, schema, "qloser", Seq((1L, 12.0), (2L, 22.0))),
        truncate = false, epoch = None, replaceFiles = Some(scannedByBoth))
    }
    assert(e.getMessage.contains("concurrent rewrite conflict"), e.getMessage)
    // the winner's update is intact and the loser's output is invisible
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, Double)].collect().toSet
    assert(back == Set((1L, 11.0), (2L, 21.0)), back.toString)
    // the loser's moved-but-unreferenced files were cleaned up like an abort
    assert(StageSource.dataFiles(dir).forall(f => !f.getName.contains("qloser")),
      StageSource.dataFiles(dir).map(_.getName).mkString(","))
    // concurrent APPENDS against a rewrite stay safe: an append never
    // lists replaceFiles, so the rewrite retry carries its file over
    StageCommitter.commit(dir, schema, Array.empty, "qappend",
      stagedCommit(dir, schema, "qappend", Seq((3L, 30.0))),
      truncate = false, epoch = None)
    val afterAppend = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, Double)].collect().toSet
    assert(afterAppend == Set((1L, 11.0), (2L, 21.0), (3L, 30.0)))
  }

  test("pre-epoch java.sql.Timestamp literals floor to micros, matching the Instant branch") {
    // ADVICE r17 #1: getTime/1000 truncates toward zero, so a pre-1970
    // timestamp with fractional seconds landed a full second late — and
    // this value feeds EXACT partition matching and zone-map literals.
    import graft.sources.v2.StageSource
    val ts = new java.sql.Timestamp(-500L) // 1969-12-31T23:59:59.5Z
    assert(StageSource.toMicros(ts).contains(-500000L),
      StageSource.toMicros(ts).toString)
    assert(StageSource.toMicros(ts.toInstant).contains(-500000L))
    // positive timestamps unchanged
    val pos = new java.sql.Timestamp(1500L)
    assert(StageSource.toMicros(pos).contains(1500000L))
  }

  test("zone-map literal view: every Number maps directly, timestamps to micros, strings to None") {
    import graft.sources.v2.StageScan.zoneValue
    assert(zoneValue(scala.math.BigDecimal("12.5")).contains(12.5))
    assert(zoneValue(new java.math.BigDecimal("-3.25")).contains(-3.25))
    assert(zoneValue(7).contains(7.0))
    assert(zoneValue(1L << 40).contains((1L << 40).toDouble))
    assert(zoneValue(new java.sql.Timestamp(1500L)).contains(1500000.0))
    assert(zoneValue("12.5").isEmpty)
  }

  test("ALTER TABLE ADD COLUMN: old files null-fill, snapshots stay readable, unsafe shapes decline") {
    // r16 verdict #5: the reference's one evolution primitive is
    // append-only AddColumn (generator.cc:32-44) — old files must read
    // with null-filled new columns, no byte rewritten.
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_evo").toString
    spark.conf.set("spark.sql.catalog.stageevo", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stageevo.root", root)
    val t = "stageevo.default.t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 100), (2, 200)")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
    spark.sql(s"INSERT INTO $t VALUES (3, 300, 'new')")
    val back = spark.sql(s"SELECT k, cents, note FROM $t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(back == Seq((1L, 100L, null), (2L, 200L, null), (3L, 300L, "new")),
      back.toString)
    // the pre-alter snapshot stays time-travel-readable under the
    // evolved schema (its files' stored counts were backfilled at ALTER)
    val asOf1 = spark.sql(s"SELECT k, note FROM $t VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.isNullAt(1))).toSet
    assert(asOf1 == Set((1L, true), (2L, true)), asOf1.toString)
    // COUNT(*) pushdown still answers from the sidecars across mixed
    // schemas
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 3L)
    // filters on the evolved column evaluate correctly over old files
    assert(spark.sql(s"SELECT k FROM $t WHERE note = 'new'")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE note IS NULL")
      .head().getLong(0) == 2L)
    // decline legs: drop / rename / non-appended position all throw
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t DROP COLUMN cents")
    }
    assert(e1.getMessage.contains("ADD COLUMN"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (early STRING FIRST)")
    }
    assert(e2.getMessage.contains("appended"), e2.getMessage)
  }

  test("merge-on-read DELETE: vectors not rewrites, COW-equivalent content, lazy compaction") {
    // r16 verdict #4: COW rewrites whole files per touched row; at 100 TB
    // a selective DELETE should write positional delete vectors and
    // apply them at read, compacting lazily.
    import graft.sources.v2.StageSource
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_mor").toString
    spark.conf.set("spark.sql.catalog.stagemor", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagemor.root", root)
    val mor = "stagemor.default.t_mor"
    val cow = "stagemor.default.t_cow"
    val insert = "SELECT id, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END, " +
      "id * 10 FROM range(0, 1000)"
    spark.sql(s"CREATE TABLE $mor (k BIGINT, status STRING, cents BIGINT) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $mor $insert")
    spark.sql(s"CREATE TABLE $cow (k BIGINT, status STRING, cents BIGINT)")
    spark.sql(s"INSERT INTO $cow $insert")
    val morDir = new java.io.File(new java.io.File(root, "default"), "t_mor")
      .getAbsolutePath
    val cowDir = new java.io.File(new java.io.File(root, "default"), "t_cow")
      .getAbsolutePath
    def dataFileNames(d: String) =
      StageSource.dataFiles(d).map(_.getName).toSet
    val morFilesBefore = dataFileNames(morDir)
    val cowFilesBefore = dataFileNames(cowDir)
    spark.sql(s"DELETE FROM $mor WHERE k % 7 = 2")
    spark.sql(s"DELETE FROM $cow WHERE k % 7 = 2")
    // WRITE AMPLIFICATION: the MOR delete moved zero data bytes (no new
    // part file); the COW delete rewrote its touched files
    assert(dataFileNames(morDir) == morFilesBefore,
      s"MOR delete rewrote data files: ${dataFileNames(morDir).diff(morFilesBefore)}")
    assert(dataFileNames(cowDir) != cowFilesBefore,
      "COW delete did not rewrite (twin setup broken?)")
    // the vectors are real and the snapshot carries them
    val dvs = StageSource.readDeletes(morDir, None)
    assert(dvs.nonEmpty && dvs.values.map(_.length).sum == 143,
      dvs.map { case (f, p) => s"$f:${p.length}" }.mkString(","))
    // MOR read ≡ COW result (compaction-equivalence half 1)
    def content(t: String) = spark.sql(
      s"SELECT k, status, cents FROM $t").as[(Long, String, Long)]
      .collect().toSet
    val morContent = content(mor)
    assert(morContent == content(cow) && morContent.size == 857)
    // exact COUNT pushdown stays exact under vectors
    assert(spark.sql(s"SELECT COUNT(*) FROM $mor").head().getLong(0) == 857L)
    // metadata row id stays hidden from SELECT *
    assert(!spark.table(mor).columns.contains("_pos"))
    // compaction repays the debt: same content, no vectors, only the
    // dirty files rewritten
    StageSource.compact(morDir)
    assert(StageSource.readDeletes(morDir, None).isEmpty)
    assert(content(mor) == morContent)
    // a second delete after compaction still works (fresh ordinals)
    spark.sql(s"DELETE FROM $mor WHERE k = 0")
    assert(content(mor) == morContent.filterNot(_._1 == 0L))
    // a copy-on-write UPDATE over a table CARRYING vectors: the rewrite
    // scan applies the vectors (the deleted row must not resurrect), the
    // replaced file's vectors drop with it, and the expectDvs validation
    // passes on the unchanged-since-scan state
    spark.sql(s"UPDATE $mor SET cents = cents + 1 WHERE k = 1")
    val afterUpd = content(mor)
    assert(!afterUpd.exists(_._1 == 0L), "vectored row resurrected by UPDATE")
    assert(afterUpd.find(_._1 == 1L).map(_._3).contains(11L), afterUpd.find(_._1 == 1L).toString)
    assert(afterUpd.size == morContent.size - 1)
    // time travel: the pre-delete snapshot still reads complete
    val v1 = spark.sql(s"SELECT COUNT(*) FROM $mor VERSION AS OF 1")
      .head().getLong(0)
    assert(v1 == 1000L, v1.toString)
  }

  test("predicate-evaluation equivalence fuzz: partition matching agrees with Catalyst on 2000+ typed cases") {
    // r16 verdict #6: the operand-order inversion (r15) was found by
    // inspection; this property finds that whole bug CLASS mechanically —
    // StageSource.partMatches and StageTable.matches are compared against
    // Spark's own Catalyst comparison evaluation over random typed
    // literals, BOTH operand orders, nulls, boundary longs beyond 2^53,
    // pre-epoch timestamps, and decimals. Any divergence is a file
    // wrongly pruned, replaced, or deleted.
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal => CLit, EqualTo => CEq, GreaterThan => CGt, GreaterThanOrEqual => CGe, LessThan => CLt, LessThanOrEqual => CLe}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.graftshim.V2ExprShim
    import org.apache.spark.sql.types._
    import graft.sources.v2.{StageSource, StageTable}

    val rnd = new scala.util.Random(1717)
    val ops = Seq("=", "<", "<=", ">", ">=")
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case o => o
    }
    // the ground truth: Spark's own evaluation of `col op lit` with both
    // sides as same-type Catalyst literals (how the comparison evaluates
    // after analysis coercion)
    def catalyst(op: String, dt: DataType, colV: Any, litV: Any): Boolean = {
      val (l, r) = (CLit.create(colV, dt), CLit.create(litV, dt))
      val e = op match {
        case "=" => CEq(l, r); case "<" => CLt(l, r); case "<=" => CLe(l, r)
        case ">" => CGt(l, r); case ">=" => CGe(l, r)
      }
      val v = e.eval(null)
      v != null && v.asInstanceOf[Boolean]
    }
    var cases = 0
    // colV/litV in CATALYST form (Long/Int/Double/UTF8String/Decimal/
    // micros-Long); v1Lit in the V1 pushed-filter form partMatches sees
    def check(dt: DataType, colV: Any, litV: Any, v1Lit: Any): Unit = {
      val rendered = StageSource.renderPart(
        dt, new GenericInternalRow(Array[Any](colV)), 0)
      val litConnector = V2ExprShim.literal(litV, dt)
      val colRef = Expressions.column("p")
      for (op <- ops) {
        val expect = colV != null && catalyst(op, dt, colV, litV)
        val got1 = StageSource.partMatches(dt, rendered, op, v1Lit)
        assert(got1 == expect,
          s"partMatches: $dt '$rendered' $op $v1Lit → $got1, Catalyst says $expect")
        val colFirst = new Predicate(op,
          Array[org.apache.spark.sql.connector.expressions.Expression](
            colRef, litConnector))
        val got2 = StageTable.matches(
          colFirst, Array("p"), Array(dt), Array(rendered))
        assert(got2 == expect,
          s"matches(col-first): $dt '$rendered' $op $litV → $got2, Catalyst says $expect")
        // the SAME comparison spelled literal-first (`lit flip(op) col`)
        val litFirst = new Predicate(flip(op),
          Array[org.apache.spark.sql.connector.expressions.Expression](
            litConnector, colRef))
        val got3 = StageTable.matches(
          litFirst, Array("p"), Array(dt), Array(rendered))
        assert(got3 == expect,
          s"matches(lit-first): $dt $litV ${flip(op)} '$rendered' → $got3, Catalyst says $expect")
        cases += 3
      }
      // IN: membership over a small list containing litV and two others
      if (colV != null) {
        val expectIn = catalyst("=", dt, colV, litV)
        val inP = new Predicate("IN",
          Array[org.apache.spark.sql.connector.expressions.Expression](
            colRef, litConnector))
        assert(StageTable.matches(inP, Array("p"), Array(dt),
          Array(rendered)) == expectIn, s"IN: $dt '$rendered' in ($litV)")
        cases += 1
      }
    }
    def nearbyLong(v: Long): Long = rnd.nextInt(5) match {
      case 0 => v; case 1 => v + 1; case 2 => v - 1
      case _ => rnd.nextLong()
    }
    // ---- LongType: random + the 2^53 double-collapse boundary + extremes
    val longPool = Seq(0L, 1L, -1L, 1L << 53, (1L << 53) + 1, -(1L << 53) - 1,
      Long.MaxValue, Long.MinValue + 1) ++ Seq.fill(40)(rnd.nextLong())
    for (colV <- longPool; _ <- 1 to 2) {
      val litV = nearbyLong(colV)
      check(LongType, colV, litV, java.lang.Long.valueOf(litV))
    }
    check(LongType, null, 5L, java.lang.Long.valueOf(5L))
    // int literal on a long column (Spark widens; the connector must too)
    for (_ <- 1 to 20) {
      val colV = rnd.nextInt(100) - 50L
      val lit = rnd.nextInt(100) - 50
      check(LongType, colV, lit.toLong, java.lang.Integer.valueOf(lit))
    }
    // ---- IntegerType (long literal rides the integral exact path)
    for (_ <- 1 to 40) {
      val colV = rnd.nextInt()
      val litV = if (rnd.nextBoolean()) colV else rnd.nextInt()
      check(IntegerType, colV, litV, java.lang.Integer.valueOf(litV))
    }
    check(IntegerType, null, 5, java.lang.Integer.valueOf(5))
    // ---- DoubleType, NaN included (Spark: NaN == NaN, NaN > everything)
    val dblPool = Seq(0.0, -0.0, 1.5, -1.5, Double.NaN,
      Double.MaxValue, Double.MinPositiveValue) ++
      Seq.fill(30)(rnd.nextDouble() * 1e6 - 5e5)
    for (colV <- dblPool) {
      val litV = if (rnd.nextBoolean()) colV else rnd.nextDouble() * 1e6 - 5e5
      check(DoubleType, colV, litV, java.lang.Double.valueOf(litV))
    }
    // ---- StringType (lexicographic, incl. empty and multi-byte)
    val strPool = Seq("", "a", "ab", "é", "z", "null") ++
      Seq.fill(30)(rnd.alphanumeric.take(rnd.nextInt(6)).mkString)
    for (colV <- strPool) {
      val litV = if (rnd.nextBoolean()) colV
        else rnd.alphanumeric.take(rnd.nextInt(6)).mkString
      check(StringType,
        org.apache.spark.unsafe.types.UTF8String.fromString(colV),
        org.apache.spark.unsafe.types.UTF8String.fromString(litV), litV)
    }
    check(StringType, null,
      org.apache.spark.unsafe.types.UTF8String.fromString("x"), "x")
    // ---- TimestampType: micros incl. PRE-EPOCH, all three V1 literal
    // spellings (raw micros, java.sql.Timestamp, Instant)
    for (_ <- 1 to 40) {
      val colMicros = rnd.nextLong() % 4000000000000000L // ±~2096
      val litMicros =
        if (rnd.nextBoolean()) colMicros else nearbyLong(colMicros)
      val v1: Any = rnd.nextInt(3) match {
        case 0 => java.lang.Long.valueOf(litMicros)
        case 1 =>
          val ts = new java.sql.Timestamp(
            Math.floorDiv(litMicros, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(litMicros, 1000000L) * 1000L).toInt)
          ts
        case _ => java.time.Instant.ofEpochSecond(
          Math.floorDiv(litMicros, 1000000L),
          Math.floorMod(litMicros, 1000000L) * 1000L)
      }
      check(TimestampType, colMicros, litMicros, v1)
    }
    // ---- DecimalType(12,2): exact decimal comparisons
    for (_ <- 1 to 40) {
      val colBd = new java.math.BigDecimal(
        java.math.BigInteger.valueOf(rnd.nextLong() % 1000000000000L), 2)
      val litBd = if (rnd.nextBoolean()) colBd
        else new java.math.BigDecimal(
          java.math.BigInteger.valueOf(rnd.nextLong() % 1000000000000L), 2)
      check(DecimalType(12, 2),
        org.apache.spark.sql.types.Decimal(colBd, 12, 2),
        org.apache.spark.sql.types.Decimal(litBd, 12, 2), litBd)
    }
    assert(cases >= 2000, s"only $cases cases generated")
  }

  test("merge-on-read UPDATE and MERGE: delete+insert deltas, pre-existing files never rewritten") {
    // the delta operation generalized to all three commands
    // (representUpdateAsDeleteAndInsert): an UPDATE/MERGE writes delete
    // vectors for the old images plus ordinary staged files for the new
    // ones, in ONE commit — pre-existing data files are never touched.
    import graft.sources.v2.StageSource
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_morw").toString
    spark.conf.set("spark.sql.catalog.stagemorw", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagemorw.root", root)
    val mor = "stagemorw.default.t_mor"
    val cow = "stagemorw.default.t_cow"
    val insert =
      "SELECT id, CAST(id % 3 AS BIGINT) AS g, id * 10 FROM range(0, 1000)"
    spark.sql(s"""CREATE TABLE $mor (k BIGINT, g BIGINT, cents BIGINT)
      TBLPROPERTIES ('delete.mode'='merge-on-read',
                     'update.mode'='merge-on-read',
                     'merge.mode'='merge-on-read')""")
    spark.sql(s"INSERT INTO $mor $insert")
    spark.sql(s"CREATE TABLE $cow (k BIGINT, g BIGINT, cents BIGINT)")
    spark.sql(s"INSERT INTO $cow $insert")
    val morDir = new java.io.File(
      new java.io.File(root, "default"), "t_mor").getAbsolutePath
    val originals = StageSource.dataFiles(morDir).map(_.getName).toSet
    def content(t: String) = spark.sql(
      s"SELECT k, g, cents FROM $t").as[(Long, Long, Long)].collect().toSet
    def sameAsCow(tag: String): Unit =
      assert(content(mor) == content(cow), s"$tag: MOR and COW diverged")
    // UPDATE via deltas: vectors for the old images + a fresh insert file
    spark.sql(s"UPDATE $mor SET cents = cents + 5 WHERE k % 10 = 0")
    spark.sql(s"UPDATE $cow SET cents = cents + 5 WHERE k % 10 = 0")
    assert(originals.subsetOf(StageSource.dataFiles(morDir).map(_.getName).toSet),
      "UPDATE rewrote a pre-existing file on the MOR path")
    assert(StageSource.readDeletes(morDir, None).values.map(_.length).sum == 100)
    sameAsCow("after UPDATE")
    // MERGE via deltas: all three legs (matched-update, not-matched
    // insert, not-matched-by-source delete)
    val src = "morw_src"
    spark.sql(
      "SELECT id AS k, CAST(0 AS BIGINT) AS g, id * 100 AS cents " +
        "FROM range(900, 1100)").createOrReplaceTempView(src)
    val merge = (t: String) => spark.sql(s"""MERGE INTO $t t USING $src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET cents = s.cents
      WHEN NOT MATCHED THEN INSERT (k, g, cents) VALUES (s.k, s.g, s.cents)
      WHEN NOT MATCHED BY SOURCE AND t.k < 10 THEN DELETE""")
    merge(mor); merge(cow)
    assert(originals.subsetOf(StageSource.dataFiles(morDir).map(_.getName).toSet),
      "MERGE rewrote a pre-existing file on the MOR path")
    sameAsCow("after MERGE")
    assert(content(mor).size == 1090, content(mor).size.toString)
    // an UPDATE that MOVES a row across partition values routes the new
    // image to the right shard — rerun the shape on a PARTITIONED table
    val part = "stagemorw.default.t_part"
    spark.sql(s"""CREATE TABLE $part (k BIGINT, g BIGINT, cents BIGINT)
      PARTITIONED BY (g)
      TBLPROPERTIES ('update.mode'='merge-on-read')""")
    spark.sql(s"INSERT INTO $part $insert")
    spark.sql(s"UPDATE $part SET g = 7 WHERE k < 30")
    val partDir = new java.io.File(
      new java.io.File(root, "default"), "t_part").getAbsolutePath
    val moved = spark.sql(s"SELECT COUNT(*) FROM $part WHERE g = 7")
      .head().getLong(0)
    assert(moved == 30L, moved.toString)
    val parts = StageSource.readParts(partDir)
    val liveFiles = StageSource.snapshotFiles(partDir, None).map(_.getName)
    assert(liveFiles.exists(f => parts.get(f).exists(_.sameElements(Array("7")))),
      "moved rows did not land in their own partition shard")
    // compaction repays the mixed debt
    StageSource.compact(morDir)
    assert(StageSource.readDeletes(morDir, None).isEmpty)
    sameAsCow("after compaction")
  }

  test("pre-r16 bare-epoch ledger lines dedup genuine re-deliveries but never a new query's epochs") {
    // ADVICE r17 #4 + review: the ledger key changed from bare epoch to
    // queryId:epoch. A bare `<epoch>` line counts as committed ONLY when
    // this query's epoch files are already in the table (a genuine
    // re-delivery after the format upgrade) — a bare line alone must not
    // dedup, or a NEW query starting at epoch 0 on a legacy table would
    // have its first batches silently dropped.
    import graft.sources.v2.{StageCommitter, StageSource}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_ledger").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    Seq((1L, 1.0)).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val schema = spark.read.format(fmt).option("path", dir).load().schema
    // legacy state: qstream committed epoch 7 under the OLD binary —
    // bare ledger line, epoch-named files already in the snapshot
    StageCommitter.commit(dir, schema, Array.empty, "qstream",
      stagedCommit(dir, schema, "qstream", Seq((7L, 7.0))),
      truncate = false, epoch = None) // epoch=None: no keyed ledger line
    val f7 = StageSource.dataFiles(dir)
      .map(_.getName).find(_.startsWith("part-qstream-")).get
    val renamed = f7.replace("part-qstream-", "part-qstream-e7-")
    java.nio.file.Files.move(
      new java.io.File(dir, f7).toPath,
      new java.io.File(dir, renamed).toPath)
    locally { // patch the manifest + sidecars to the epoch-named file
      for (n <- Seq(StageSource.manifestName(
          StageSource.latestVersion(dir).get), StageSource.StatsFile,
          StageSource.ColsFile)) {
        val p = new java.io.File(dir, n).toPath
        val s = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        java.nio.file.Files.write(p, s.replace(f7, renamed)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    }
    java.nio.file.Files.write(
      new java.io.File(dir, StageSource.EpochsFile).toPath,
      "7\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val before = StageSource.manifestVersions(dir)
    // epoch 7 re-offered to the SAME query after the upgrade: its files
    // are present → SKIPPED, no new snapshot
    StageCommitter.commit(dir, schema, Array.empty, "qstream",
      stagedCommit(dir, schema, "qstream", Seq((7L, 7.0))),
      truncate = false, epoch = Some(7L))
    assert(StageSource.manifestVersions(dir) == before,
      StageSource.manifestVersions(dir).toString)
    // a NEW query's epoch 7 (fresh checkpoint, no files of its own) must
    // COMMIT — the bare line belongs to the older writer
    StageCommitter.commit(dir, schema, Array.empty, "qfresh",
      stagedCommit(dir, schema, "qfresh", Seq((9L, 9.0))),
      truncate = false, epoch = Some(7L))
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, Double)].collect().toSet
    assert(back == Set((1L, 1.0), (7L, 7.0), (9L, 9.0)), back.toString)
  }

  test("bounded delete-vector encoding: commit bytes follow the delta, sidecars are immutable and content-addressed") {
    // r17 verdict #1: per-row cumulative D-lines made EVERY commit
    // rewrite (and every plan read) O(total deleted rows) manifest bytes
    // driver-side. The bounded encoding stores each dirty file's vector
    // once in an immutable content-addressed sidecar and carries a
    // constant-size reference line forward.
    import graft.sources.v2.StageSource
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_dv").toString
    spark.conf.set("spark.sql.catalog.stagedv", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagedv.root", root)
    val t = "stagedv.default.t_dv"
    spark.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 3000)")
    val dir = new java.io.File(new java.io.File(root, "default"), "t_dv")
      .getAbsolutePath
    def manifestText(v: Int) = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, StageSource.manifestName(v)).toPath))
    def dvSidecars = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("_dv-")).toSet
    spark.sql(s"DELETE FROM $t WHERE k % 3 = 1") // 1000 rows, every file
    val vDel = StageSource.latestVersion(dir).get
    val mDel = manifestText(vDel)
    // the delete wrote NO per-row lines: one V-reference per dirty file
    assert(!mDel.linesIterator.exists(_.startsWith("D\t")), mDel)
    val vLineCount = mDel.linesIterator.count(_.startsWith("V\t"))
    val nFiles = StageSource.snapshotFiles(dir, None).length
    assert(vLineCount > 0 && vLineCount <= nFiles, s"$vLineCount vs $nFiles files")
    val sidecarsAfterDelete = dvSidecars
    // content addressing DEDUPES identical vectors across files: the
    // sidecar set is exactly the DISTINCT references, which may be fewer
    // than the dirty files (here every file deletes the same ordinal
    // pattern)
    val refNames = mDel.linesIterator.filter(_.startsWith("V\t"))
      .map(_.split('\t')(2)).toSet
    assert(sidecarsAfterDelete == refNames,
      s"$sidecarsAfterDelete vs refs $refNames")
    val dvBefore = StageSource.readDeletes(dir, None)
      .map { case (f, ps) => f -> ps.toSeq }
    assert(dvBefore.values.map(_.size).sum == 1000)
    // an UNRELATED append: manifest stays O(files) — same V-lines carried
    // verbatim — and ZERO new vector bytes are written
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(3000, 3010)")
    val vApp = StageSource.latestVersion(dir).get
    val mApp = manifestText(vApp)
    assert(mApp.linesIterator.filter(_.startsWith("V\t")).toSet ==
      mDel.linesIterator.filter(_.startsWith("V\t")).toSet,
      "append changed delete-vector references")
    assert(dvSidecars == sidecarsAfterDelete, "append wrote vector bytes")
    assert(StageSource.readDeletes(dir, None)
      .map { case (f, ps) => f -> ps.toSeq } == dvBefore)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 2010L)
    // a second, narrower delete touches ONE file: exactly one new sidecar
    // appears (the touched file's new vector); the old sidecar remains
    // (immutable — the pre-delete snapshot still resolves through it)
    spark.sql(s"DELETE FROM $t WHERE k = 0")
    val sidecarsAfterSecond = dvSidecars
    assert(sidecarsAfterSecond.size == sidecarsAfterDelete.size + 1,
      s"$sidecarsAfterDelete -> $sidecarsAfterSecond")
    assert(sidecarsAfterDelete.subsetOf(sidecarsAfterSecond))
    // time travel to the snapshot BETWEEN the deletes still reads right
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF $vApp")
      .head().getLong(0) == 2010L)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 2009L)
    // vacuum expires sidecars referenced only by expired manifests
    StageSource.vacuum(dir)
    val live = StageSource.readDvRefs(dir, None).values.toSet
    assert(dvSidecars == live, s"vacuum kept ${dvSidecars.diff(live)}")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 2009L)
    // content addressing: the same vector maps to the same sidecar name,
    // and the run-length coding collapses a contiguous span to one run
    val v1 = StageSource.writeDvFile(dir, Array(5L, 6L, 7L, 100L))
    val v2 = StageSource.writeDvFile(dir, Array(5L, 6L, 7L, 100L))
    assert(v1 == v2)
    assert(StageSource.loadDv(dir, v1).toSeq == Seq(5L, 6L, 7L, 100L))
    assert(StageSource.encodeDv((0L until 1000000L).toArray).length == 20,
      "a 1M-row contiguous vector must cost one run (4+16 bytes)")
    assert(StageSource.decodeDv(StageSource.encodeDv(Array[Long]())).isEmpty)
  }

  test("legacy per-row D-line manifests read correctly and migrate to sidecar references on first commit") {
    import graft.sources.v2.StageSource
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_dvmig").toString
    spark.conf.set("spark.sql.catalog.stagemig", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagemig.root", root)
    val t = "stagemig.default.t_mig"
    spark.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 100)")
    val dir = new java.io.File(new java.io.File(root, "default"), "t_mig")
      .getAbsolutePath
    // simulate a pre-upgrade manifest: file list + cumulative D-lines
    val files = StageSource.snapshotFiles(dir, None).map(_.getName)
    val target = files.head
    val legacyLines = files.toSeq ++
      Seq(StageSource.deleteLine(target, 0L), StageSource.deleteLine(target, 2L))
    val nextV = StageSource.latestVersion(dir).get + 1
    java.nio.file.Files.write(
      new java.io.File(dir, StageSource.manifestName(nextV)).toPath,
      legacyLines.mkString("", "\n", "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    StageSource.recordCommitTime(dir, nextV)
    // the legacy encoding reads correctly …
    val dv0 = StageSource.readDeletes(dir, None)
    assert(dv0.keySet == Set(target) && dv0(target).toSeq == Seq(0L, 2L),
      dv0.map { case (f, p) => s"$f:${p.mkString(",")}" }.mkString(";"))
    spark.sql(s"REFRESH TABLE $t")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 98L)
    // a TAILED pre-upgrade table: consume up to the legacy D-line version
    // before the migration commit lands
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stage_dvmig_ck").toString
    val seen = new java.util.concurrent.atomic.AtomicLong
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.v2.StageSource")
        .option("path", dir).load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(df.count()): Unit
        }.start()
      q.awaitTermination()
    }
    drain()
    assert(seen.get() == 98L, s"legacy vectors not applied: ${seen.get()}")
    // … and the first commit after upgrade migrates it: V-reference in
    // the new manifest, no D-lines, identical vectors
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(100, 110)")
    val m = new String(java.nio.file.Files.readAllBytes(new java.io.File(
      dir, StageSource.manifestName(StageSource.latestVersion(dir).get)).toPath))
    assert(!m.linesIterator.exists(_.startsWith("D\t")), m)
    assert(m.linesIterator.count(_.startsWith("V\t")) == 1, m)
    assert(StageSource.readDeletes(dir, None)(target).toSeq == Seq(0L, 2L))
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 108L)
    // the tailing stream SURVIVES the migration commit — the encoding
    // changed (D-lines → sidecar reference), the delete state did not;
    // the resumed drain emits only the appended rows
    drain()
    assert(seen.get() == 108L,
      s"migration commit broke or duplicated the tail: ${seen.get()}")
  }

  test("staged-table streaming read: version-epoch tailing, admission control, resume, non-append fail-loudly") {
    // r17 verdict #2: snapshot versions are the epochs; (v1, v2] is the
    // appended files. AvailableNow + maxFilesPerTrigger must drain in
    // bounded batches (SupportsTriggerAvailableNow — without it the
    // engine silently ignores the limit), a restart must resume at the
    // committed version, and a non-append change must fail loudly.
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    val fmt = "graft.sources.v2.StageSource"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_tail").toString + "/t"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stage_tail_ck").toString
    import spark.implicits._
    def stage(lo: Long, hi: Long, parts: Int, mode: String): Unit =
      spark.range(lo, hi).select($"id".as("k"), ($"id" * 10).as("cents"))
        .repartition(parts)
        .write.format(fmt).option("path", dir).mode(mode).save()
    stage(0, 300, 3, "append") // snapshot v1: 3 files
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def drain(): Int = {
      val q = spark.readStream.format(fmt).option("path", dir)
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val a = df.agg(count(lit(1)), coalesce(sum("k"), lit(0L))).head()
          got.add((a.getLong(0), a.getLong(1))): Unit
        }.start()
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
    val batches1 = drain()
    // 3 files, 1 per trigger: three non-empty batches, content complete
    assert(batches1 == 3, s"expected 3 bounded batches, got $batches1")
    assert(got.asScala.map(_._1).sum == 300L)
    assert(got.asScala.map(_._2).sum == (0L until 300L).sum)
    // appends land as new epochs; the same checkpoint resumes WITHOUT
    // re-reading consumed versions
    got.clear()
    stage(300, 400, 2, "append") // v2
    stage(400, 450, 1, "append") // v3
    val batches2 = drain()
    assert(batches2 == 3, s"expected 3 bounded batches (2+1 files), got $batches2")
    assert(got.asScala.map(_._1).sum == 150L, got.asScala.toString)
    assert(got.asScala.map(_._2).sum == (300L until 450L).sum)
    // nothing new: a drain is a no-op
    got.clear()
    assert(drain() == 0)
    assert(got.isEmpty)
    // rows limit: a fresh checkpoint with maxRowsPerTrigger bounded by
    // the __rows sidecar still drains everything
    val ckpt2 = java.nio.file.Files
      .createTempDirectory("graft_stage_tail_ck2").toString
    val q2 = spark.readStream.format(fmt).option("path", dir)
      .option("maxRowsPerTrigger", "120").load()
      .writeStream.option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        got.add((df.count(), 0L)): Unit
      }.start()
    q2.awaitTermination()
    assert(got.asScala.map(_._1).sum == 450L)
    assert(got.asScala.count(_._1 > 0) >= 3,
      s"rows limit produced ${got.asScala.count(_._1 > 0)} batches")
    // non-append change: an overwrite between drains must fail loudly,
    // never silently re-emit
    stage(0, 10, 1, "overwrite")
    val q3 = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.count(): Unit
      }.start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.awaitTermination()
    }
    def rootMsg(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + rootMsg(t.getCause)
    assert(rootMsg(err).contains("NON-APPEND"), rootMsg(err))
  }

  test("auto-compaction policy: threshold-priced dirty-file-only repay, no-op without the property, idempotent") {
    import graft.sources.v2.StageSource
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_ac").toString
    spark.conf.set("spark.sql.catalog.stageac", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stageac.root", root)
    val t = "stageac.default.t_ac"
    spark.sql(s"CREATE TABLE $t (k BIGINT, grp STRING, cents BIGINT) " +
      "PARTITIONED BY (grp) TBLPROPERTIES " +
      "('delete.mode'='merge-on-read', 'compact.dv-threshold'='0.3')")
    spark.sql(s"INSERT INTO $t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END, id * 10 " +
      "FROM range(0, 1000)")
    spark.sql(s"DELETE FROM $t WHERE grp = 'even' AND k % 3 <> 0") // ~2/3
    spark.sql(s"DELETE FROM $t WHERE grp = 'odd' AND k % 97 = 1")  // ~1%
    val dir = new java.io.File(new java.io.File(root, "default"), "t_ac")
      .getAbsolutePath
    val stats = StageSource.readStats(dir)
    val before = StageSource.readDeletes(dir, None)
      .map { case (f, ps) => f -> ps.toSeq }
    def frac(f: String, n: Int) = n.toDouble / stats(f)("__rows").min
    assert(before.exists { case (f, ps) => frac(f, ps.size) > 0.3 })
    assert(before.exists { case (f, ps) => frac(f, ps.size) <= 0.3 })
    val content0 = spark.sql(s"SELECT k, grp, cents FROM $t")
      .as[(Long, String, Long)].collect().toSet
    StageSource.maintain(dir)
    val after = StageSource.readDeletes(dir, None)
      .map { case (f, ps) => f -> ps.toSeq }
    // over-threshold files repaid, under-threshold files byte-identical
    before.foreach { case (f, ps) =>
      if (frac(f, ps.size) > 0.3)
        assert(!after.contains(f), s"$f should have been compacted")
      else assert(after.get(f).contains(ps), s"$f vectors changed")
    }
    assert(spark.sql(s"SELECT k, grp, cents FROM $t")
      .as[(Long, String, Long)].collect().toSet == content0)
    // idempotent: nothing left above the threshold
    StageSource.maintain(dir)
    assert(StageSource.readDeletes(dir, None)
      .map { case (f, ps) => f -> ps.toSeq } == after)
    // without the property, maintain never compacts
    val t2 = "stageac.default.t_noprop"
    spark.sql(s"CREATE TABLE $t2 (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t2 SELECT id, id FROM range(0, 100)")
    spark.sql(s"DELETE FROM $t2 WHERE k % 2 = 0")
    val dir2 = new java.io.File(new java.io.File(root, "default"), "t_noprop")
      .getAbsolutePath
    val dv2 = StageSource.readDeletes(dir2, None).map { case (f, p) => f -> p.toSeq }
    assert(dv2.nonEmpty)
    StageSource.maintain(dir2)
    assert(StageSource.readDeletes(dir2, None)
      .map { case (f, p) => f -> p.toSeq } == dv2, "maintain acted without a threshold")
  }

  test("cross-command races: compact vs MOR delete aborts one way each, compact vs append both survive, takedown vs MOR delete") {
    // r17 verdict #3: conflict validation covered rewrite-vs-rewrite and
    // DV drift; pin the remaining pairings mechanically. Interleavings
    // are simulated like the rewrite-race precedent above: each side's
    // scan state is captured, the other side commits, then the stale
    // side's commit must abort (or carry over, where the pairing is
    // conflict-free). No interleaving may lose rows silently.
    import graft.sources.v2.{StageCommitter, StageSource}
    val fmt = "graft.sources.v2.StageSource"

    // ---- compact vs MOR delete on the same file: one aborts, each way
    def freshMor(tag: String): (String, org.apache.spark.sql.types.StructType, String) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_race_$tag").toString + "/t"
      Seq.tabulate(10)(i => (i.toLong, i * 1.0)).toDF("k", "v").coalesce(1)
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      val schema = spark.read.format(fmt).option("path", dir).load().schema
      val f = StageSource.snapshotFiles(dir, None).map(_.getName).head
      // seed one vector so compact has debt to repay
      StageCommitter.commit(dir, schema, Array.empty, s"seed$tag",
        Array(graft.sources.v2.StageCommit(Array.empty)),
        truncate = false, epoch = None, addDeletes = Map(f -> Array(0L)))
      (dir, schema, f)
    }
    // direction A: the MOR delete wins the race; compact (scanned the
    // pre-delete vector state) must abort, not resurrect the fresh delete
    locally {
      val (dir, schema, f) = freshMor("a")
      val dvAtScan = StageSource.readDeletes(dir, None)
        .map { case (n, p) => n -> p.toSet } // compact's scan snapshot
      StageCommitter.commit(dir, schema, Array.empty, "morwin",
        Array(graft.sources.v2.StageCommit(Array.empty)),
        truncate = false, epoch = None, addDeletes = Map(f -> Array(3L)))
      val e = intercept[IllegalStateException] {
        StageCommitter.commit(dir, schema, Array.empty, "compactlose",
          stagedCommit(dir, schema, "compactlose",
            Seq.tabulate(9)(i => ((i + 1).toLong, (i + 1) * 1.0))),
          truncate = false, epoch = None,
          replaceFiles = Some(Set(f)), expectDvs = Some(dvAtScan))
      }
      assert(e.getMessage.contains("delete vectors"), e.getMessage)
      // the fresh delete survived: rows 0 and 3 are gone
      val back = spark.read.format(fmt).option("path", dir).load()
        .select("k").as[Long].collect().toSet
      assert(back == (0L until 10L).toSet -- Set(0L, 3L), back.toString)
    }
    // direction B: compact wins; the MOR delete targets the replaced
    // file and must abort (its ordinals are meaningless on the rewrite)
    locally {
      val (dir, schema, f) = freshMor("b")
      StageSource.compact(dir)
      assert(StageSource.readDeletes(dir, None).isEmpty)
      val e = intercept[IllegalStateException] {
        StageCommitter.commit(dir, schema, Array.empty, "morlose",
          Array(graft.sources.v2.StageCommit(Array.empty)),
          truncate = false, epoch = None, addDeletes = Map(f -> Array(5L)))
      }
      assert(e.getMessage.contains("rewrote or removed"), e.getMessage)
      val back = spark.read.format(fmt).option("path", dir).load()
        .select("k").as[Long].collect().toSet
      assert(back == (1L until 10L).toSet, back.toString) // seed delete only
    }
    // ---- compact vs append: conflict-free, both must survive
    locally {
      val (dir, schema, f) = freshMor("c")
      val dvAtScan = StageSource.readDeletes(dir, None)
        .map { case (n, p) => n -> p.toSet }
      // an append lands between compact's scan and its commit
      StageCommitter.commit(dir, schema, Array.empty, "qapp",
        stagedCommit(dir, schema, "qapp", Seq((100L, 100.0))),
        truncate = false, epoch = None)
      StageCommitter.commit(dir, schema, Array.empty, "qcompact",
        stagedCommit(dir, schema, "qcompact",
          Seq.tabulate(9)(i => ((i + 1).toLong, (i + 1) * 1.0))),
        truncate = false, epoch = None,
        replaceFiles = Some(Set(f)), expectDvs = Some(dvAtScan))
      val back = spark.read.format(fmt).option("path", dir).load()
        .select("k").as[Long].collect().toSet
      assert(back == ((1L until 10L).toSet + 100L),
        s"append or compact lost: $back")
      assert(StageSource.readDeletes(dir, None).isEmpty)
    }
    // ---- takedown (deleteWhere) vs MOR delete on a doomed file: the
    // late MOR delete must abort, and the takedown must not half-apply
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_race_d").toString + "/t"
      Seq((0L, "a", 1.0), (1L, "b", 2.0), (2L, "a", 3.0), (3L, "b", 4.0))
        .toDF("k", "p", "v")
        .write.format(fmt).option("path", dir).option("partition_by", "p")
        .mode("overwrite").save()
      val schema = spark.read.format(fmt).option("path", dir).load().schema
      val parts = StageSource.readParts(dir)
      val aFile = parts.collectFirst { case (n, pv) if pv.sameElements(Array("a")) => n }.get
      // the takedown drops partition a
      import org.apache.spark.sql.util.CaseInsensitiveStringMap
      val table = new graft.sources.v2.StageSource().getTable(schema,
        Array.empty, new java.util.HashMap[String, String]() {{ put("path", dir) }})
        .asInstanceOf[graft.sources.v2.StageTable]
      table.deleteWhere(Array(new org.apache.spark.sql.connector.expressions.filter.Predicate(
        "=", Array(org.apache.spark.sql.connector.expressions.Expressions.column("p"),
          org.apache.spark.sql.graftshim.V2ExprShim.utf8Literal("a")))))
      // a MOR delete computed against the doomed file aborts loudly
      val e = intercept[IllegalStateException] {
        StageCommitter.commit(dir, schema, Array("p"), "morondoomed",
          Array(graft.sources.v2.StageCommit(Array.empty)),
          truncate = false, epoch = None, addDeletes = Map(aFile -> Array(0L)))
      }
      assert(e.getMessage.contains("rewrote or removed"), e.getMessage)
      val back = spark.read.format(fmt).option("path", dir).load()
        .select("k").as[Long].collect().toSet
      assert(back == Set(1L, 3L), back.toString)
    }
  }

  test("vacuum races same-process commits safely: no claimed snapshot ever references a GC'd sidecar") {
    // r18 ADVICE #2: commits write _dv-* sidecars BEFORE claiming a
    // manifest ("invisible until referenced"), so an UNLOCKED vacuum
    // listing the directory mid-commit could GC a just-written,
    // not-yet-referenced sidecar — the claimed snapshot's delete state
    // would be permanently unreconstructible (loadDv fails loudly
    // forever). vacuum now serializes on the per-path commit lock; this
    // hammers the interleaving: one thread appends + MOR-deletes, one
    // vacuums(retainLast=1) continuously, and EVERY post-race snapshot
    // must fully resolve.
    import graft.sources.v2.{StageCommitter, StageSource}
    val fmt = "graft.sources.v2.StageSource"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_race_vac").toString + "/t"
    Seq.tabulate(100)(i => (i.toLong, i * 1.0)).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val schema = spark.read.format(fmt).option("path", dir).load().schema
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val rounds = 25
    val writer = new Thread(() => {
      try {
        for (i <- 0 until rounds) {
          StageCommitter.commit(dir, schema, Array.empty, s"app$i",
            stagedCommit(dir, schema, s"app$i",
              Seq(((100 + i).toLong, (100 + i) * 1.0))),
            truncate = false, epoch = None)
          // a fresh vector every round: new content-addressed sidecar
          // written right before the claim — the ADVICE's exact window
          val f = StageSource.snapshotFiles(dir, None).map(_.getName).min
          StageCommitter.commit(dir, schema, Array.empty, s"del$i",
            Array(graft.sources.v2.StageCommit(Array.empty)),
            truncate = false, epoch = None,
            addDeletes = Map(f -> Array(i.toLong)))
        }
      } catch { case t: Throwable => failures.add(t): Unit }
    })
    val vacuumer = new Thread(() => {
      try for (_ <- 0 until rounds * 4) StageSource.vacuum(dir, retainLast = 1)
      catch { case t: Throwable => failures.add(t): Unit }
    })
    writer.start(); vacuumer.start()
    writer.join(120000); vacuumer.join(120000)
    assert(failures.isEmpty, String.valueOf(failures.peek()))
    StageSource.vacuum(dir)
    // the surviving snapshot RESOLVES: every V-reference's sidecar loads
    val dvs = StageSource.readDeletes(dir, None)
    assert(dvs.values.map(_.length).sum == rounds,
      s"lost or duplicated deletes: ${dvs.values.map(_.length).sum}")
    assert(spark.read.format(fmt).option("path", dir).load().count() ==
      (100 + rounds - rounds).toLong)
  }

  test("composite fuzz: zone-map pruning x delete vectors x schema evolution reads equal full-scan-then-filter") {
    // r17 verdict #7: the 2000-case predicate fuzz checks partition
    // matching in isolation; the riskier composite is pruning over
    // mixed-schema files (evolved columns have no stats on old files)
    // with delete vectors applied at read. Randomized tables, seeded for
    // reproducibility; oracle = the UNFILTERED read (all files, vectors
    // applied) filtered row-at-a-time in plain Scala.
    import graft.sources.v2.StageSource
    val rnd = new scala.util.Random(20260816L)
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_fz").toString
    spark.conf.set("spark.sql.catalog.stagefz", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagefz.root", root)
    for (trial <- 0 until 8) {
      val t = s"stagefz.default.t_fz$trial"
      spark.sql(s"CREATE TABLE $t (k BIGINT, a BIGINT, x DOUBLE) " +
        "TBLPROPERTIES ('delete.mode'='merge-on-read')")
      def mkRows(n: Int, lo: Long): Seq[(Long, java.lang.Long, java.lang.Double)] =
        Seq.tabulate(n) { i =>
          (lo + i,
            if (rnd.nextInt(10) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(200).toLong - 100),
            java.lang.Double.valueOf(rnd.nextInt(1000) / 10.0 - 50.0))
        }
      val n1 = 40 + rnd.nextInt(80)
      mkRows(n1, 0).toDF("k", "a", "x")
        .repartition(1 + rnd.nextInt(3))
        .createOrReplaceTempView(s"fz_b1_$trial")
      spark.sql(s"INSERT INTO $t SELECT * FROM fz_b1_$trial")
      // evolve: files of batch 1 store 3 columns, later files store 4
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (b BIGINT)")
      val n2 = 40 + rnd.nextInt(80)
      mkRows(n2, 10000).map { case (k, a, x) =>
        (k, a, x,
          if (rnd.nextInt(5) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(300).toLong))
      }.toDF("k", "a", "x", "b")
        .repartition(1 + rnd.nextInt(3))
        .createOrReplaceTempView(s"fz_b2_$trial")
      spark.sql(s"INSERT INTO $t SELECT * FROM fz_b2_$trial")
      // one or two random vector deletes across both eras
      val m = 2 + rnd.nextInt(5)
      spark.sql(s"DELETE FROM $t WHERE k % $m = ${rnd.nextInt(m)}")
      if (rnd.nextBoolean()) {
        val m2 = 2 + rnd.nextInt(6)
        spark.sql(s"DELETE FROM $t WHERE k % $m2 = ${rnd.nextInt(m2)}")
      }
      val dir = new java.io.File(new java.io.File(root, "default"), s"t_fz$trial")
        .getAbsolutePath
      assert(StageSource.readDeletes(dir, None).nonEmpty ||
        // a delete predicate can legitimately match nothing
        spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == (n1 + n2).toLong)
      // the oracle view: every surviving row, locally held
      case class R(k: Long, a: Option[Long], x: Option[Double], b: Option[Long])
      val full = spark.sql(s"SELECT k, a, x, b FROM $t").collect().map { r =>
        R(r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))
      }.toSeq
      // typed predicates over stats-backed (a, x) and evolution-tail (b)
      // columns — every comparison shape the zone maps prune on
      val ops = Seq("<", "<=", ">", ">=", "=")
      for (_ <- 0 until 8) {
        val (colName, lit) = rnd.nextInt(3) match {
          case 0 => ("a", (rnd.nextInt(240) - 120).toString)
          case 1 => ("x", (rnd.nextInt(1200) / 10.0 - 60.0).toString)
          case _ => ("b", rnd.nextInt(340).toString)
        }
        val op = ops(rnd.nextInt(ops.size))
        val got = spark.sql(
          s"SELECT k, a, x, b FROM $t WHERE $colName $op $lit")
          .collect().map(_.toString).sorted.toSeq
        def cmp(v: Double, w: Double): Boolean = op match {
          case "<" => v < w
          case "<=" => v <= w
          case ">" => v > w
          case ">=" => v >= w
          case _ => v == w
        }
        val litD = lit.toDouble
        val want = full.filter { r =>
          val v: Option[Double] = colName match {
            case "a" => r.a.map(_.toDouble)
            case "x" => r.x
            case _ => r.b.map(_.toDouble)
          }
          v.exists(cmp(_, litD))
        }.map(r => org.apache.spark.sql.Row(
          r.k, r.a.map(java.lang.Long.valueOf).orNull,
          r.x.map(java.lang.Double.valueOf).orNull,
          r.b.map(java.lang.Long.valueOf).orNull).toString).sorted
        assert(got == want,
          s"trial $trial: $colName $op $lit -> got ${got.size} rows, " +
            s"want ${want.size}")
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("streaming.start-version tails only new data; retention-window vacuum keeps the travel window") {
    import graft.sources.v2.StageSource
    import org.apache.spark.sql.streaming.Trigger
    val fmt = "graft.sources.v2.StageSource"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_sv").toString + "/t"
    def stage(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).select($"id".as("k"), ($"id" * 10).as("cents"))
        .coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
    stage(0, 500)   // v1: the history a new consumer must NOT replay
    stage(500, 600) // v2
    val seen = new java.util.concurrent.atomic.AtomicLong
    def drain(ckpt: String, opts: Map[String, String]): Unit = {
      val r = opts.foldLeft(
        spark.readStream.format(fmt).option("path", dir)) {
        case (b, (k, v)) => b.option(k, v)
      }
      val q = r.load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(df.count()): Unit
        }.start()
      q.awaitTermination()
    }
    // start-version=latest: the fresh checkpoint begins AFTER v2 — the
    // first drain emits nothing, and only post-start appends arrive
    val ck1 = java.nio.file.Files
      .createTempDirectory("graft_sv_ck1").toString
    drain(ck1, Map("streaming.start-version" -> "latest"))
    assert(seen.get() == 0L, s"latest replayed history: ${seen.get()}")
    stage(600, 650) // v3
    drain(ck1, Map("streaming.start-version" -> "latest")) // resumes, option inert on restart
    assert(seen.get() == 50L, seen.get().toString)
    // start-version=1: everything AFTER snapshot 1
    seen.set(0)
    val ck2 = java.nio.file.Files
      .createTempDirectory("graft_sv_ck2").toString
    drain(ck2, Map("streaming.start-version" -> "1"))
    assert(seen.get() == 150L, s"expected v2+v3 rows only: ${seen.get()}")
    // a typo'd start version fails loudly instead of replaying from 0
    val ck3 = java.nio.file.Files
      .createTempDirectory("graft_sv_ck3").toString
    val bad = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format(fmt).option("path", dir)
        .option("streaming.start-version", "99").load()
        .writeStream.option("checkpointLocation", ck3)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.count(): Unit
        }.start()
      q.awaitTermination()
    }
    def rootMsg(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + rootMsg(t.getCause)
    assert(rootMsg(bad).contains("not a snapshot"), rootMsg(bad))
    // retention-window vacuum: keep the last 2 snapshots (v2, v3)
    StageSource.vacuum(dir, retainLast = 2)
    assert(StageSource.manifestVersions(dir) == Seq(2, 3))
    // travel inside the window works; the latest read is intact
    assert(spark.read.format(fmt).option("path", dir)
      .option("version_as_of", "2").load().count() == 600L)
    assert(spark.read.format(fmt).option("path", dir).load().count() == 650L)
    // travel before the window fails as "no such snapshot"
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("version_as_of", "1").load().count()
    }
    assert(e.getMessage.contains("no snapshot version 1"), e.getMessage)
    // commit-time ledger pruned to the window (TIMESTAMP AS OF before it
    // must fail, not resolve to a dangling version)
    assert(StageSource.readCommitTimes(dir).keySet == Set(2, 3))
  }

  test("streaming tail survives a retention vacuum; a lagging tail fails loudly naming it") {
    import graft.sources.v2.{StageMicroBatchStream, StageSource, StageStreamOffset}
    import org.apache.spark.sql.streaming.Trigger
    val fmt = "graft.sources.v2.StageSource"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_vt").toString + "/t"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_vt_ck").toString
    def stage(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).select($"id".as("k"), ($"id" * 10).as("cents"))
        .coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
    val seen = new java.util.concurrent.atomic.AtomicLong
    def drain(): Unit = {
      val q = spark.readStream.format(fmt).option("path", dir).load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(df.count()): Unit
        }.start()
      q.awaitTermination()
    }
    stage(0, 100); stage(100, 250); stage(250, 300) // v1..v3
    drain()
    assert(seen.get() == 300L, seen.get().toString)
    // nightly vacuum expires all history but the latest snapshot (r18
    // ADVICE #1: this used to delete manifest v3's PREDECESSOR, and the
    // next trigger's newFilesOf(v) died on the missing v-1 — the
    // retention vacuum and the streaming tail were mutually exclusive)
    StageSource.vacuum(dir, retainLast = 1)
    assert(StageSource.manifestVersions(dir) == Seq(3))
    stage(300, 360) // v4
    drain() // resumes from the checkpoint across the vacuum
    assert(seen.get() == 360L,
      s"tail across vacuum re-read or missed rows: ${seen.get()}")
    // a tail LAGGING behind the retention window fails loudly, naming the
    // vacuum — never a silent partial read (an offset mid-version 3 needs
    // manifest 3, which the next vacuum expires)
    stage(360, 400) // v5
    StageSource.vacuum(dir, retainLast = 1)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, cents BIGINT")
    val stream = new StageMicroBatchStream(dir, schema, schema, None, None)
    val err = intercept[IllegalStateException] {
      stream.planInputPartitions(
        StageStreamOffset(3, 0), StageStreamOffset(5, Int.MaxValue))
    }
    assert(err.getMessage.contains("vacuum expired"), err.getMessage)
    // a batch scan pinned to a version the vacuum expired also fails
    // loudly (never a partial file list)
    val e2 = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("version_as_of", "4").load().count()
    }
    assert(e2.getMessage.contains("no snapshot version 4"), e2.getMessage)
  }

  test("change-data-feed: snapshot diffs as insert/delete records, batch ranges and a stream across MOR deletes and rewrites") {
    import graft.sources.v2.StageSource
    import org.apache.spark.sql.streaming.Trigger
    val fmt = "graft.sources.v2.StageSource"
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_cdf").toString
    spark.conf.set("spark.sql.catalog.stagecdf",
      "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stagecdf.root", root)
    val t = "stagecdf.default.t_cdf"
    spark.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 100)")   // v1
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(100, 150)") // v2
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 0")                        // v3: MOR delta
    val dir = new java.io.File(new java.io.File(root, "default"), "t_cdf")
      .getAbsolutePath
    StageSource.compact(dir)                                             // v4: rewrite = delete+insert
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(150, 170)") // v5
    def feed(opts: Map[String, String] = Map.empty) =
      opts.foldLeft(spark.read.format(fmt).option("path", dir)
        .option("read-change-feed", "true")) {
        case (b, (k, v)) => b.option(k, v)
      }.load()
    // multiset reconstruction: inserts minus deletes = the live table, at
    // EVERY version boundary (the Changelog-style replay oracle)
    def reconstructed(upTo: Int) = {
      val f = feed(Map("changes.end-version" -> upTo.toString))
        .select("k", "cents", "_change_type")
      f.filter($"_change_type" === "insert").select("k", "cents")
        .exceptAll(f.filter($"_change_type" === "delete").select("k", "cents"))
    }
    (1 to 5).foreach { v =>
      val snap = spark.read.format(fmt).option("path", dir)
        .option("version_as_of", v.toString).load().select("k", "cents")
      val rec = reconstructed(v)
      assert(rec.exceptAll(snap).isEmpty && snap.exceptAll(rec).isEmpty,
        s"feed replay to version $v diverges from the snapshot")
    }
    // the MOR delete's version emits EXACTLY the deleted rows, bounded by
    // the delta (no rescan, no insert noise)
    val v3only = feed(Map("changes.start-version" -> "2",
      "changes.end-version" -> "3"))
    assert(v3only.filter($"_change_type" === "insert").count() == 0)
    assert(v3only.filter($"_change_type" === "delete")
      .select("k").as[Long].collect().sorted.toSeq ==
      (0L until 150L by 10).toSeq)
    // the rewrite version is delete+insert of the same live multiset
    val v4only = feed(Map("changes.start-version" -> "3",
      "changes.end-version" -> "4")).select("k", "cents", "_change_type")
    val v4ins = v4only.filter($"_change_type" === "insert").select("k", "cents")
    val v4del = v4only.filter($"_change_type" === "delete").select("k", "cents")
    assert(v4ins.exceptAll(v4del).isEmpty && v4del.exceptAll(v4ins).isEmpty,
      "a compaction rewrite must net to zero in the feed")
    // version stamps ride every record
    assert(feed().select("_commit_version").distinct()
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // STREAMING the feed drains the same records — including the MOR
    // delete and the rewrite, where the plain tail refuses loudly
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cdf_ck").toString
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Long)]
    def drainFeed(): Unit = {
      val q = spark.readStream.format(fmt).option("path", dir)
        .option("read-change-feed", "true")
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("k", "cents", "_change_type", "_commit_version")
            .as[(Long, Long, String, Long)].collect().foreach(acc.add)
          (): Unit
        }.start()
      q.awaitTermination()
    }
    drainFeed()
    import scala.jdk.CollectionConverters._
    val batchAll = feed().select("k", "cents", "_change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().sorted.toSeq
    assert(acc.asScala.toSeq.sorted == batchAll,
      "streamed feed diverges from the batch feed")
    // a MID-STREAM delete between drains is consumed, not refused
    spark.sql(s"DELETE FROM $t WHERE k = 7")                             // v6
    drainFeed()
    assert(acc.asScala.toSeq.sorted ==
      (batchAll :+ ((7L, 70L, "delete", 6L))).sorted,
      "resumed feed must emit exactly the new delete record")
    // the plain tail on the same history still refuses loudly (contract
    // unchanged — the feed is the consumable path)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format(fmt).option("path", dir).load()
        .writeStream.option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_cdf_ck2").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.count(): Unit
        }.start()
      q.awaitTermination()
    }
    def rootMsg(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + rootMsg(x.getCause)
    assert(rootMsg(err).contains("change-data-feed"), rootMsg(err))
  }

  test("change feed x vacuum: in-window ranges read, expired ranges and takedown pre-images fail loudly, a drained CDC stream survives") {
    import graft.sources.v2.StageSource
    import org.apache.spark.sql.streaming.Trigger
    val fmt = "graft.sources.v2.StageSource"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_cfv").toString + "/t"
    def stage(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).select($"id".as("k"), ($"id" * 10).as("cents"))
        .coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
    stage(0, 100); stage(100, 150); stage(150, 180) // v1..v3
    // drain the CDC stream fully, then vacuum, then append: the resumed
    // stream must emit ONLY the post-vacuum version (same sentinel
    // contract as the plain tail)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cfv_ck").toString
    val seen = new java.util.concurrent.atomic.AtomicLong
    def drain(): Unit = {
      val q = spark.readStream.format(fmt).option("path", dir)
        .option("read-change-feed", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(df.count()): Unit
        }.start()
      q.awaitTermination()
    }
    drain()
    assert(seen.get() == 180L, seen.get().toString)
    StageSource.vacuum(dir, retainLast = 1)
    stage(180, 200) // v4
    drain()
    assert(seen.get() == 200L,
      s"CDC stream across vacuum re-read or missed rows: ${seen.get()}")
    // batch feed over the retained window works; from version 0 it needs
    // expired history and must fail loudly naming the vacuum
    assert(spark.read.format(fmt).option("path", dir)
      .option("read-change-feed", "true")
      .option("changes.start-version", "3").load().count() == 20L)
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("read-change-feed", "true").load().count()
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // a takedown's removed files have their bytes destroyed: the feed
    // over that version names the unreconstructible file
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_stage_cfv2").toString + "/t"
    spark.range(0, 60).select(($"id" % 2).as("p"), $"id".as("k"))
      .repartition(1)
      .write.format(fmt).option("path", dir2)
      .option("partition_by", "p").mode("append").save()
    val t2 = spark.read.format(fmt).option("path", dir2).load()
    assert(t2.count() == 60L)
    // partition takedown via the catalog-free path: deleteWhere on p=0
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.graftshim.V2ExprShim
    val table = new graft.sources.v2.StageTable(dir2, t2.schema,
      Array("p"))
    table.deleteWhere(Array(new Predicate("=",
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("p"),
        V2ExprShim.longLiteral(0)))))
    assert(spark.read.format(fmt).option("path", dir2).load().count() == 30L)
    val e2 = intercept[Exception] {
      spark.read.format(fmt).option("path", dir2)
        .option("read-change-feed", "true").load().count()
    }
    assert(e2.getMessage.contains("not reconstructible"), e2.getMessage)
  }

  test("snapshots metadata table and timestamp-windowed change feeds resolve the table's history") {
    import graft.sources.v2.StageSource
    val fmt = "graft.sources.v2.StageSource"
    val root = java.nio.file.Files
      .createTempDirectory("graft_stage_hist").toString
    spark.conf.set("spark.sql.catalog.stageh", "graft.sources.v2.StageCatalog")
    spark.conf.set("spark.sql.catalog.stageh.root", root)
    val t = "stageh.default.t_hist"
    spark.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 60)")   // v1
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(60, 90)")  // v2
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 1")                       // v3
    val dir = new java.io.File(new java.io.File(root, "default"), "t_hist")
      .getAbsolutePath
    // ------------------------------------------------ snapshots table
    val snaps = spark.read.format(fmt).option("path", dir)
      .option("snapshots", "true").load().orderBy("version").collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(snaps.forall(!_.isNullAt(1)), "commit times missing")
    assert(snaps.map(r => r.getLong(3)).sum ==
      StageSource.snapshotFiles(dir, None).length.toLong,
      "added counts don't sum to the live file count (append-only so far)")
    val v3 = snaps(2)
    assert(v3.getLong(4) == 0L, "the MOR delete removed no files")
    assert(v3.getLong(5) > 0L && v3.getLong(6) == 9L,
      s"expected 9 delta-deleted rows, got ${v3.getLong(6)}")
    assert(snaps.forall(_.getBoolean(7)), "r19 manifests are self-contained")
    // after a takedown-style file removal the snapshots table shows it
    StageSource.compact(dir)                                            // v4
    val snaps2 = spark.read.format(fmt).option("path", dir)
      .option("snapshots", "true").load().orderBy("version").collect()
    assert(snaps2.length == 4 && snaps2(3).getLong(4) > 0L &&
      snaps2(3).getLong(3) > 0L, "a rewrite adds AND removes")
    // ---------------------------------- timestamp-windowed change feed
    def feed(opts: (String, String)*) =
      opts.foldLeft(spark.read.format(fmt).option("path", dir)
        .option("read-change-feed", "true")) {
        case (b, (k, v)) => b.option(k, v)
      }.load()
    // everything after v1's instant = v2's inserts + v3's deletes + v4's
    // rewrite (net zero) — ending at v3's instant excludes the rewrite
    val ledger = StageSource.readCommitTimes(dir)
    val win = feed("changes.start-timestamp" -> afterV1.toString,
      "changes.end-timestamp" -> ledger(3).toString)
      .select("k", "_change_type").collect()
    assert(win.count(_.getString(1) == "insert") == 30, win.length.toString)
    assert(win.count(_.getString(1) == "delete") == 9)
    // a start before the first commit floors to the whole history
    assert(feed("changes.start-timestamp" -> (ledger(1) - 10000).toString,
      "changes.end-timestamp" -> ledger(1).toString)
      .count() == 60L)
    // mixing version and timestamp forms declines loudly
    val e = intercept[Exception] {
      feed("changes.start-version" -> "1",
        "changes.start-timestamp" -> afterV1.toString).count()
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
    // snapshots x read-change-feed declines loudly
    val e2 = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("snapshots", "true").option("read-change-feed", "true")
        .load().count()
    }
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
    // SQL metadata-table addressing (the Iceberg idiom): cat.ns.t.snapshots
    // and cat.ns.t.changes resolve through the catalog
    assert(spark.sql(s"SELECT COUNT(*) FROM $t.snapshots").head().getLong(0) == 4L)
    assert(spark.sql(
      s"""SELECT COUNT(*) FROM $t.changes
          WHERE _change_type = 'delete' AND _commit_version = 3""")
      .head().getLong(0) == 9L) // the MOR delta, exactly
    assert(spark.read.option("changes.start-version", "3")
      .table(s"$t.changes").select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    // a non-metadata 2-level name still fails loudly
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t.nope").collect()
    }
    assert(e3.getMessage.contains("single namespace level") ||
      e3.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e3.getMessage)
  }

  test("binpack coalesces small files per partition; big files and lone smalls stay; DV debt repaid; content invariant") {
    import graft.sources.v2.StageSource
    val fmt = "graft.sources.v2.StageSource"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_bp").toString + "/t"
    // 6 tiny single-file appends per partition value (the streaming
    // maxFilesPerTrigger=1 accumulation shape), plus one BIG file
    def stage(lo: Long, hi: Long): Unit =
      spark.range(lo, hi)
        .select(($"id" % 2).as("p"), $"id".as("k"), ($"id" * 10).as("cents"))
        .repartition(1)
        .write.format(fmt).option("path", dir)
        .option("partition_by", "p").mode("append").save()
    (0 until 6).foreach(i => stage(i * 20, (i + 1) * 20))
    stage(1000, 6000) // two big files (one per partition), over target
    val before = StageSource.snapshotFiles(dir, None)
    val target = 4000L
    val bigBefore = before.filter(_.length >= target).map(_.getName).toSet
    assert(bigBefore.size == 2, s"fixture: ${before.map(_.length).mkString(",")}")
    assert(before.length == 14, s"fixture: expected 14 files, got ${before.length}")
    val contentBefore = spark.read.format(fmt).option("path", dir).load()
      .select("p", "k", "cents").collect().map(_.toSeq).sortBy(_.toString).toSeq
    // a little merge-on-read debt on a small file: binpack must repay it
    spark.read.format(fmt).option("path", dir).load() // touch
    StageSource.writeProps(dir, Map(
      StageSource.CompactTargetBytesProp -> target.toString))
    StageSource.maintain(dir)
    val after = StageSource.snapshotFiles(dir, None)
    // per-partition small files coalesced: 6 smalls per partition fit in
    // well under target → 1 packed file per partition + 2 big = 4
    assert(after.length < before.length, s"${after.length} vs ${before.length}")
    assert(bigBefore.subsetOf(after.map(_.getName).toSet),
      "binpack touched an over-target file")
    // a bin never mixes partition values
    val parts = StageSource.readParts(dir)
    assert(after.forall(f => parts(f.getName).length == 1))
    val contentAfter = spark.read.format(fmt).option("path", dir).load()
      .select("p", "k", "cents").collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(contentAfter == contentBefore, "binpack changed table content")
    // idempotent: a second pass finds nothing under target worth packing
    val v = StageSource.latestVersion(dir).get
    StageSource.maintain(dir)
    assert(StageSource.latestVersion(dir).get == v,
      "second maintain pass committed a no-op snapshot")
    // partition pruning still exact after the rewrite
    assert(spark.read.format(fmt).option("path", dir).load()
      .filter($"p" === 0L).count() ==
      contentBefore.count(_.head == 0L))
  }
}
