package graft

import graft.catalog.Support.withConf
import graft.sources.Tables

/** Bucketing: pre-partitioned co-located joins — the at-scale answer to
  * the reference's partition-then-join pipeline (`host/join/join_dpu.cc`
  * PHASE 1): pay the shuffle once at write time, join with no exchange
  * forever after.
  */
class BucketingSpec extends SparkTestBase {

  test("bucketed tables join with no shuffle exchange") {
    // warehouse dir is a temp dir, set statically in SparkTestBase
    try withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Tables.lineitem(spark, sf0001)
        .select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      Tables.orders(spark, sf0001)
        .select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("o_bucketed")

      val li = spark.table("li_bucketed")
      val o = spark.table("o_bucketed")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free plan, got:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sf0001).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("bucketed artifact survives a fresh catalog: attach, don't rebuild") {
    // Simulates the driver's process model (Verify and Bench are separate
    // JVMs with empty in-memory catalogs): after dropping the catalog
    // entries the files must be ATTACHED, not rewritten — same rows, the
    // merge join still exchange-free, and the parquet files untouched.
    val q = SparkEntry.queries("q_bucketed_join")
    val first = q(spark, sf0001)
    val rows = first.count()
    assert(rows > 0)
    val dataDir = new java.io.File("/tmp/graft_bucketed")
    // listFiles() returns null for missing paths — stale artifact dirs
    // from older layouts may lack the lineitem/ child
    def ls(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    val dirs = ls(dataDir).filter(_.isDirectory)
    assert(dirs.nonEmpty)
    val files = dirs.flatMap(d => ls(new java.io.File(d, "lineitem")))
      .filter(_.getName.endsWith(".parquet"))
    val mtimes = files.map(f => f.getAbsolutePath -> f.lastModified()).toMap
    // wipe ONLY the catalog entries (external tables — files survive)
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_li_bkt_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_o_bkt_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    val second = q(spark, sf0001)
    assert(second.count() == rows)
    // the full catalog query ends in orderBy (one range exchange is
    // inherent); the bucketing property is NO HASH exchange into the join
    val plan = second.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"attached bucketed tables lost the exchange-free join:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"attached table not recognized as bucketed:\n$plan")
    files.foreach { f =>
      assert(f.lastModified() == mtimes(f.getAbsolutePath),
        s"bucketed file rewritten on re-attach: $f")
    }
  }
}
