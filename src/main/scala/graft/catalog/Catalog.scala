package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A Bench tier a catalog row belongs to. */
sealed trait Tag
object Tag {
  /** Weather anchor: re-measured after the full Bench run and compared
    * with `tools/bench_anchors.tsv`. */
  case object Anchor extends Tag
  /** `SPARK_GRAFT_BENCH_TIER=headline`: the anchors plus the r14
    * slowest-8, the close-out chain's representative tier. */
  case object Headline extends Tag
  /** `SPARK_GRAFT_BENCH_TIER=scaling`: rows heavy enough on the ×10
    * `ScaleGen` corpus to rise clear of the per-job fixed cost. */
  case object Scaling extends Tag
}

/** One catalog row: its name, the Spark plan that answers it over a
  * testdata directory, its DuckDB oracle and its Bench tiers.
  *
  * Every row ends in a deterministic ORDER BY over a key that makes the
  * row sequence unique-up-to-identical-rows, and every computed column is
  * identically aliased in the Spark plan and the oracle SQL (the driver
  * hash-compares by column name). Rows whose primary estimate is
  * engine-specific (the sketch, ANN, and LSH/simhash pair families) use
  * the verdict-row form: the emitted result is the exact/deterministic
  * side plus an in-plan bound-or-recall verdict asserted TRUE, so the
  * oracle checks both the exact values and that the approximate operator
  * met its floor.
  */
final case class CatalogQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    tags: Set[Tag])

/** A family of catalog rows. Each `row(name, build, tags*)(oracle)` in the
  * family's body declares one row beside its build function; an oracle
  * value a row names must be defined above that row, since the body runs
  * top to bottom.
  */
abstract class Family {
  private val declared = Seq.newBuilder[CatalogQuery]
  protected final def row(
      name: String, build: (SparkSession, String) => DataFrame, tags: Tag*)(
      oracle: String): Unit =
    declared += CatalogQuery(name, build, oracle, tags.toSet)
  final lazy val rows: Seq[CatalogQuery] = declared.result()
}

/** The catalog registry: every row of every family, declared once. */
object Catalog {
  val all: Seq[CatalogQuery] =
    Seq(Parity, Tpch, TextLlm, Pairs, Streaming, Dsv2, Analytics)
      .flatMap(_.rows)

  /** Row names carrying `tag`, sorted. */
  def tagged(tag: Tag): Seq[String] =
    all.filter(_.tags(tag)).map(_.name).sorted
}
