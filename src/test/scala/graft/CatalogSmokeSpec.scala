package graft

/** Whole-catalog guard: every SparkEntry query executes at sf0.001 on the
  * session Verify and Bench use (with `GraftExtensions`), leaves that
  * shared session's settings as it found them, and the oracle map never
  * references a missing query (the driver's correctness gate fails
  * silently on either).
  */
class CatalogSmokeSpec extends SparkTestBase {

  /** Settings a row may leave in the session, each with its reason: Spark
    * reads them after `build` returns, so a scope inside `build` cannot
    * hold them.
    */
  private val lasting: Seq[(String, String)] = Seq(
    "spark.sql.catalog.stage_" ->
      "Dsv2.stageCatalog registers the row's staging catalog for the session",
    "spark.sql.legacy.parquet.nanosAsLong" ->
      "Tables.events sets it and the scan reads it when it executes",
    "spark.sql.cteRecursionRowLimit" ->
      "q_recursive_cte raises it and UnionLoopExec reads it when it executes")

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every catalog query executes without error at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = graftSpark.conf.getAll
      try {
        fn(graftSpark, sf0001).count()
        val after = graftSpark.conf.getAll
        val changed = (before.keySet ++ after.keySet).toSeq.sorted.filter(k =>
          before.get(k) != after.get(k) && !lasting.exists(l => k.startsWith(l._1)))
        Option.when(changed.nonEmpty)(s"$name left session settings changed: " +
          changed.map(k => s"$k ${before.get(k)} -> ${after.get(k)}").mkString(", "))
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("queries with oracles return at least one row at sf0.001") {
    val empty = SparkEntry.oracleSql.keySet.toSeq.sorted.filter { name =>
      SparkEntry.queries(name)(graftSpark, sf0001).isEmpty
    }
    assert(empty.isEmpty, s"oracled queries with empty results: $empty")
  }
}
