package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Catalog, Tag}

/** The catalog registry is the one place a row is declared: these checks
  * pin what the old parallel maps and hand-kept tier lists left unchecked.
  */
class RegistrySpec extends AnyFunSuite {

  test("row names are unique") {
    val dups = Catalog.all.groupBy(_.name).collect {
      case (n, rows) if rows.size > 1 => n
    }
    assert(dups.isEmpty, s"rows declared more than once: $dups")
  }

  test("every row has a non-empty oracle") {
    val empty = Catalog.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"rows without oracle text: $empty")
  }

  test("queries and oracleSql cover the same 325 rows") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 325)
  }

  test("Anchor-tagged rows are exactly the anchors in tools/bench_anchors.tsv") {
    val src = scala.io.Source.fromFile("tools/bench_anchors.tsv", "UTF-8")
    val anchors =
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split('\t')(0)).toSeq.sorted
      finally src.close()
    assert(anchors.size == 10)
    assert(Catalog.tagged(Tag.Anchor) == anchors)
  }

  test("README's row and suite counts match the registry and the spec files") {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val readme = try src.mkString finally src.close()
    def stated(noun: String): Seq[Int] =
      s"(\\d+) $noun".r.findAllMatchIn(readme).map(_.group(1).toInt).toSeq
    val specs = new java.io.File("src/test/scala/graft").listFiles()
      .count(_.getName.endsWith("Spec.scala"))
    assert(stated("named rows").nonEmpty && stated("suites").nonEmpty)
    assert(stated("named rows").forall(_ == Catalog.all.size), stated("named rows"))
    assert(stated("suites").forall(_ == specs), s"${stated("suites")} vs $specs spec files")
  }

  test("the headline and scaling tiers resolve to their pinned name lists") {
    val headline = Seq(
      "q_filter", "q_sum", "q_take", "q_partition", "q_join",
      "q_window", "q_tfidf", "q_sessionize", "q_topk_per_key",
      "q_minhash_pairs",
      "q_edit_pairs", "q_stream_restart", "q_corpus_pipeline",
      "q_stream_evict", "q_label_prop", "q_stream_outer_join",
      "q_stream_sessionize", "q_rfm")
    val scaling = Seq(
      "q_edit_pairs", "q_corpus_pipeline", "q_weighted_median",
      "q_percentile_disc", "q_salted_join", "q_naive_bayes",
      "q_label_prop", "q_minhash_pairs", "q_join", "q_tfidf")
    assert(Catalog.tagged(Tag.Headline) == headline.sorted)
    assert(Catalog.tagged(Tag.Scaling) == scaling.sorted)
  }
}
