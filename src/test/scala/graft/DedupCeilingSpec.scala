package graft

import org.apache.spark.sql.functions._

import graft.catalog.Support.withConf
import graft.ext.Dedup
import graft.sources.Tables

/** Hot-bucket / document-frequency ceilings under a DEGENERATE corpus: a
  * flood of identical documents (boilerplate pages), the worst case for
  * candidate generation — every gram / band / chunk key lands all of them in
  * one bucket and an uncapped self-join goes quadratic. The ceilings must
  * (a) keep the candidate count bounded on the degenerate corpus, (b) report
  * the dropped mass, and (c) be a no-op on the real testdata at defaults.
  */
class DedupCeilingSpec extends SparkTestBase {
  import spark.implicits._

  private val nDocs = 300
  private val quadraticPairs = nDocs.toLong * (nDocs - 1) / 2

  // 300 copies of the same paragraph under distinct ids.
  private lazy val degenerate = {
    val base = "the quick brown fox jumps over the lazy dog and then runs far " +
      "away across the wide green field toward the old stone bridge"
    (0 until nDocs).map(i => (i.toLong, base)).toDF("doc_id", "text")
  }

  test("ngram df ceiling bounds the degenerate corpus and reports dropped mass") {
    // Every 3-gram has df = 300 > 50: all dropped, zero candidates instead
    // of the quadratic pair set.
    val capped = Dedup.ngramJaccardPairs(degenerate, "doc_id", "text",
      n = 3, threshold = 0.1, maxDf = 50)
    assert(capped.count() == 0)

    val (nGrams, droppedGrams, droppedPostings, droppedPairs) =
      Dedup.ngramDfStats(degenerate, "doc_id", "text", n = 3, maxDf = 50)
        .as[(Long, Long, Long, Long)].head()
    assert(nGrams > 0 && droppedGrams == nGrams)
    assert(droppedPostings == nGrams * nDocs)
    assert(droppedPairs == nGrams * quadraticPairs)

    // without the ceiling the same corpus yields the full quadratic pair set
    val uncapped = Dedup.ngramJaccardPairs(degenerate, "doc_id", "text",
      n = 3, threshold = 0.1, maxDf = Int.MaxValue)
    assert(uncapped.count() == quadraticPairs)
  }

  test("LSH bucket ceilings bound the degenerate corpus") {
    // Identical docs have identical signatures: every occupied band / chunk
    // bucket holds all 300 docs, exceeds the cap, and is dropped.
    val mh = Dedup.minhashPairs(degenerate, "doc_id", "text",
      shingleK = 5, numHashes = 64, bands = 8, threshold = 0.8, maxBucket = 50)
    assert(mh.count() == 0)

    val sh = Dedup.simhashPairs(degenerate, "doc_id", "text",
      maxHamming = 3, chunks = 4, maxBucket = 50)
    assert(sh.count() == 0)
  }

  test("capAudit.failFraction: breach throws eagerly; bad conf values fail at the conf") {
    // the degenerate corpus drops 100% of candidate mass — any fraction
    // breached must throw at query BUILD, not warn after the fact
    withConf(spark, "graft.capAudit.failFraction" -> "0.5") {
      val e = intercept[IllegalStateException] {
        Dedup.minhashPairs(degenerate, "doc_id", "text",
          shingleK = 5, numHashes = 64, bands = 8, threshold = 0.8,
          maxBucket = 50)
      }
      assert(e.getMessage.contains("failFraction"))
    }
    // malformed / out-of-range values name the conf key and the bad value
    // instead of surfacing a bare NumberFormatException mid-build
    for (bad <- Seq("half", "-0.1", "0", "1.5")) {
      withConf(spark, "graft.capAudit.failFraction" -> bad) {
        val e = intercept[IllegalArgumentException] {
          Dedup.minhashPairs(degenerate, "doc_id", "text",
            shingleK = 5, numHashes = 64, bands = 8, threshold = 0.8,
            maxBucket = 50)
        }
        assert(e.getMessage.contains("graft.capAudit.failFraction") &&
          e.getMessage.contains(bad), e.getMessage)
      }
    }
  }

  test("embedding-LSH planes auto-scale on an over-capacity corpus (graceful recall)") {
    // 240 vectors in 80 near-dup triples (base + two tiny perturbations,
    // cos >= ~0.999), deterministic seed. With maxBucket = 5 and the
    // default 4x2^4 = 64-bucket key space, the mean bucket holds ~15
    // vectors (3.75x the cap): most buckets are DROPPED whole and the
    // un-scaled query returns (almost) nothing — the silent cliff. The
    // auto-scaled key space keeps buckets under the cap, so near-identical
    // pairs keep colliding per-chunk and recall degrades gracefully
    // instead.
    val rnd = new scala.util.Random(42)
    val dim = 16
    val vecs = (0 until 80).flatMap { g =>
      val base = Array.fill(dim)(rnd.nextGaussian())
      (0 until 3).map { j =>
        val v = if (j == 0) base
        else base.map(_ + rnd.nextGaussian() * 1e-3)
        ((g * 3 + j).toLong, v.toSeq)
      }
    }.toDF("id", "vec")
    // 80 groups x 3 pairs each
    val truePairs = 240L
    val fixed = Dedup.embeddingPairs(vecs, "id", "vec", threshold = 0.99,
      maxBucket = 5, autoScalePlanes = false)
    val auto = Dedup.embeddingPairs(vecs, "id", "vec", threshold = 0.99,
      maxBucket = 5)
    val nFixed = fixed.count()
    val nAuto = auto.count()
    info(s"over-capacity corpus: fixed-planes pairs=$nFixed auto-scaled=$nAuto of $truePairs")
    assert(nFixed < truePairs / 4,
      s"test premise broken: the un-scaled key space should collapse ($nFixed)")
    assert(nAuto >= (truePairs * 0.9).toLong,
      s"auto-scaled recall collapsed: $nAuto of $truePairs")
    // and the auto path stays a no-op when the corpus fits the key space
    val small = vecs.filter(col("id") < 24)
    val smallFixed = Dedup.embeddingPairs(small, "id", "vec", threshold = 0.99,
        autoScalePlanes = false)
      .as[(Long, Long, Double)].collect().toSet
    val smallAuto = Dedup.embeddingPairs(small, "id", "vec", threshold = 0.99)
      .as[(Long, Long, Double)].collect().toSet
    assert(smallAuto == smallFixed)
  }

  test("ceilings at their defaults are a no-op on the real corpus") {
    val docs = Tables.documents(spark, sf0001)
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.03)
      .as[(Long, Long, Double)].collect().toSet
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.03, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == uncapped && capped.nonEmpty)

    val mhCapped = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleK = 5, numHashes = 64, bands = 8, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val mhUncapped = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleK = 5, numHashes = 64, bands = 8, threshold = 0.8,
        maxBucket = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(mhCapped == mhUncapped && mhCapped.nonEmpty)
  }
}
