package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{Catalog, Parity, Support}

/** Driver contract — the full operator catalog (SURVEY.md §2 parity rows +
  * north-star extensions), each as a named query over the testdata tables
  * with its DuckDB oracle. The rows live in the [[graft.catalog]] families;
  * this object is the facade that Verify, Bench, the benchmark harness and
  * the specs call.
  */
object SparkEntry {

  /** Flagship: the reference's composite operator — PK–FK inner hash join,
    * right key dropped (`host/join/join_dpu.cc:158-400`) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    Parity.qJoin(spark, "/root/testdata/sf0.001")

  /** Maintenance hook: drop every session-scoped cached plan this object
    * holds ([[Support.takeIndexMemo]], [[Support.pairVerdictMemo]]) AND the session's
    * CacheManager entries. The regeneration contract ([[Support.dirTag]]) says
    * in-place data regeneration requires a fresh session precisely
    * because persisted plans pin file listings; for the rare in-session
    * regeneration (tests, long-lived services rotating a corpus
    * directory in place) this is the escape hatch — call it after
    * replacing files so every consumer re-lists and re-materializes.
    */
  def evictCaches(s: SparkSession): Unit = {
    Support.takeIndexMemo.synchronized {
      Support.takeIndexMemo.values.forEach(df => df.unpersist(false))
      Support.takeIndexMemo.clear()
    }
    Support.pairVerdictMemo.synchronized {
      Support.pairVerdictMemo.values.forEach(df => df.unpersist(false))
      Support.pairVerdictMemo.clear()
    }
    s.catalog.clearCache()
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.build).toMap

  /** DuckDB oracles — one per catalog query, no omissions. */
  lazy val oracleSql: Map[String, String] =
    Catalog.all.map(q => q.name -> q.oracle).toMap
}
