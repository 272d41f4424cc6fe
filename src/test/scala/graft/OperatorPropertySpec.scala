package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.Tables

/** Property/invariant tests — including the reference's own *disabled*
  * partition invariants (`host/partition/partition_test.cc:40-56,84-93`),
  * which we make pass (SURVEY §5.2).
  */
class OperatorPropertySpec extends SparkTestBase {
  import spark.implicits._

  test("revUnits is the exact integer decomposition of price*(1-discount)") {
    // the TPC-H suite's money sums accumulate round(price*100)*(100-d*100)
    // in 1e-4 currency units; this pins that the decomposition is EXACTLY
    // BigDecimal price*(1-disc) for every 2-decimal (price, discount) pair
    // — the invariant that makes the revenue sums engine-identical
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(42)
    val rows = Seq.tabulate(2000) { _ =>
      val price = BigDecimal(1 + rnd.nextInt(9999999)) / 100 // 0.01..99999.99
      val disc = BigDecimal(rnd.nextInt(11)) / 100           // 0.00..0.10
      (price.toDouble, disc.toDouble)
    }
    import spark.implicits._
    val got = rows.toDF("l_extendedprice", "l_discount")
      .select(graft.catalog.Tpch.revUnits.as("u"))
      .collect().map(_.getLong(0))
    rows.zip(got).foreach { case ((price, disc), u) =>
      val exact = (BigDecimal(price) * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP) *
        (100 - (BigDecimal(disc) * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP))
      assert(BigDecimal(u) == exact, s"price=$price disc=$disc units=$u exact=$exact")
      // and the decomposition IS price*(1-disc) in exact decimal arithmetic
      val money = BigDecimal(u) / 10000
      assert(money == BigDecimal(price) * (1 - BigDecimal(disc)),
        s"units/1e4=$money != exact ${BigDecimal(price) * (1 - BigDecimal(disc))}")
    }
  }

  test("hash partition conserves row count and per-column checksum") {
    val li = Tables.lineitem(spark, sf0001)
    val before = li.agg(
      count(lit(1)), sum($"l_quantity"), sum($"l_orderkey"))
      .as[(Long, Double, Long)].head()
    val after = Relational.hashPartition(li, 8, "l_orderkey").agg(
      count(lit(1)), sum($"l_quantity"), sum($"l_orderkey"))
      .as[(Long, Double, Long)].head()
    assert(before == after)
  }

  test("hash partition produces the requested partition count, balanced ±10% on uniform keys") {
    val n = 8
    val df = spark.range(100000).toDF("k")
    val parts = Relational.partitionStats(Relational.hashPartition(df, n, "k"))
      .as[(Int, Long)].collect().toMap
    assert(parts.size == n, "every partition non-empty")
    val ideal = 100000.0 / n
    parts.values.foreach { c =>
      assert(math.abs(c - ideal) / ideal < 0.10, s"partition size $c vs ideal $ideal")
    }
  }

  test("partitioning is disjoint: each key lands in exactly one partition") {
    val df = spark.range(10000).toDF("k")
    val keysPerPartition = Relational.hashPartition(df, 8, "k")
      .withColumn("pid", spark_partition_id())
      .groupBy($"k").agg(countDistinct($"pid").as("nparts"))
      .agg(max($"nparts")).as[Long].head()
    assert(keysPerPartition == 1L)
  }

  test("filter output is a subset of the input with selectivity preserved") {
    val li = Tables.lineitem(spark, sf0001)
    val thresh = 30000.0
    val kept = Relational
      .filterCompact(li, $"l_extendedprice" < thresh, Seq("l_extendedprice"))
    val expected = li.filter($"l_extendedprice" < thresh).count()
    assert(kept.count() == expected)
    assert(kept.agg(max($"l_extendedprice")).as[Double].head() < thresh)
  }

  test("pk-fk join row count equals fact-side row count (PK-FK integrity)") {
    // join_test.cc:115-116 invariant, on the natural orders<-lineitem pair
    val li = Tables.lineitem(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    val joined = Relational.pkFkJoin(
      li.select("l_orderkey", "l_quantity"),
      o.select("o_orderkey", "o_totalprice"),
      "l_orderkey", "o_orderkey", broadcastRight = true)
    assert(joined.count() == li.count())
  }

  test("sum aggregation matches driver-side fold at any partitioning") {
    val df = spark.range(1, 100001).toDF("v")
    val expected = 100000L * 100001L / 2
    assert(Relational.sumAgg(df, "v").as[Long].head() == expected)
    assert(Relational.sumAgg(df.repartition(13), "v").as[Long].head() == expected)
  }

  test("merge gather equals the join gather on indexed testdata") {
    import graft.operators.PositionalTake
    val values = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice")
    val indexed = PositionalTake
      .withGlobalIndex(values,
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice"))
      .select(col("idx"), col("l_extendedprice").as("v"))
      .localCheckpoint() // pin one instance: both gathers must see the same rows
    val indices = indexed.filter(col("idx") % 7 === 0).select("idx")
    val viaJoin = PositionalTake.take(indexed, indices, "idx")
      .select("idx", "v").as[(Long, Double)].collect().sortBy(_._1).toSeq
    val idxArr = indices.as[Long].collect().sorted
    val viaMerge = PositionalTake.mergeTake(indexed, idxArr)
      .select("idx", "v").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(viaMerge.nonEmpty && viaMerge == viaJoin)
    // empty index array -> empty gather; out-of-range indices are ignored
    assert(PositionalTake.mergeTake(indexed, Array.empty[Long]).count() == 0)
    val far = PositionalTake.mergeTake(indexed, Array(-5L, Long.MaxValue))
    assert(far.count() == 0)
    // the DISTRIBUTED merge gather (no broadcast, index side shuffled to
    // the values partitions' boundaries) returns the identical multiset
    val viaDist = PositionalTake.mergeTakeDist(indexed, indices)
      .select("idx", "v").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(viaDist == viaJoin)
    // gather-with-repetition: a duplicated index emits one row per
    // occurrence (cp::Take semantics), same as the join gather
    val dupIdx = indices.union(indices.limit(3))
    val viaDistDup = PositionalTake.mergeTakeDist(indexed, dupIdx)
    val viaJoinDup = PositionalTake.take(indexed, dupIdx, "idx")
    assert(viaDistDup.count() == viaJoinDup.count())
    assert(viaDistDup.count() == indices.count() + 3)
    // out-of-domain indices are consumed without emitting
    val farDf = Seq(-5L, Long.MaxValue).toDF("idx")
    assert(PositionalTake.mergeTakeDist(indexed, farDf).count() == 0)
  }

  test("sample-to-mix hits the target ratio and keeps the scarcest source whole") {
    import graft.ext.Sampling
    // skewed corpus: A 300 rows, B 100 rows; target 1:1 → the feasible
    // total binds on B, so B is kept whole and A downsamples to ~100
    val df = spark.range(300).select(col("id"), lit("A").as("src"))
      .union(spark.range(1000, 1100).select(col("id"), lit("B").as("src")))
    val counts = Sampling.sampleToMix(df, "id", "src",
        Map("A" -> 1.0, "B" -> 1.0))
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(counts("B") == 100, s"scarcest source not kept whole: $counts")
    assert(math.abs(counts("A") - 100.0) < 35.0,
      s"A not near the 1:1 target: $counts") // md5-hash binomial variance
    // weight-0 / absent sources are dropped entirely
    val only = Sampling.sampleToMix(df, "id", "src", Map("A" -> 1.0))
    assert(only.filter(col("src") === "B").count() == 0)
    // weighted sampling: w=0 drops everything, w=1 keeps everything
    val w01 = df.withColumn("w",
      when(col("src") === "A", lit(0.0)).otherwise(lit(1.0)))
    val kept = Sampling.weightedPortableSample(w01, "id", "w")
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(!kept.contains("A") && kept("B") == 100)
  }

  test("pagerank: mass conservation, symmetry, centrality, dangling rejection") {
    import graft.ext.PageRank
    // ring of 10 (symmetric): perfect symmetry → every rank exactly 1/10
    val ring = (0 until 10).flatMap(i =>
      Seq((i.toLong, ((i + 1) % 10).toLong), (((i + 1) % 10).toLong, i.toLong)))
      .toDF("src", "dst")
    val ringRanks = PageRank.run(ring, "src", "dst", iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(ringRanks.size == 10)
    ringRanks.values.foreach(r => assert(math.abs(r - 0.1) < 1e-12))
    // star of 1 center + 8 leaves (symmetrized): center outranks every
    // leaf, leaves are equal by symmetry, and Σ ranks = 1
    val star = (1 to 8).flatMap(l => Seq((0L, l.toLong), (l.toLong, 0L)))
      .toDF("src", "dst")
    val starRanks = PageRank.run(star, "src", "dst", iterations = 20)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(starRanks.values.sum - 1.0) < 1e-9,
      s"rank mass not conserved: ${starRanks.values.sum}")
    val leaves = (1 to 8).map(l => starRanks(l.toLong))
    assert(leaves.forall(r => starRanks(0L) > r))
    assert(leaves.forall(r => math.abs(r - leaves.head) < 1e-12))
    // dangling vertex (edge into a sink with no out-edge) must be rejected
    val dangling = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      PageRank.run(dangling, "src", "dst", iterations = 2)
    }
    // a vertex with out-edges but NO in-edges (valid input: every vertex
    // pushes) must keep its teleport share, not silently vanish
    val sourceOnly = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val so = PageRank.run(sourceOnly, "src", "dst", iterations = 4)
      .as[(Long, Double)].collect().toMap
    assert(so.size == 3, s"source-only vertex dropped: $so")
    assert(math.abs(so(3L) - 0.05) < 1e-12) // (1-0.85)/3 each round
    assert(math.abs(so.values.sum - 1.0) < 1e-9)
  }

  test("funnel stage counts are monotonically non-increasing") {
    // Each stage requires a strictly-later event from the previous stage's
    // survivors, so the user set can only shrink.
    val rows = SparkEntry.queries("q_funnel")(spark, sf0001)
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    assert(rows.sliding(2).forall { case Array((_, a), (_, b)) => b <= a })
  }

  test("retention offset-0 counts cover every active user exactly once") {
    // Every user is active on their own cohort day, and belongs to exactly
    // one cohort: the offset-0 column must sum to the distinct-user count.
    val ret = SparkEntry.queries("q_retention")(spark, sf0001)
    val day0 = ret.filter(col("day_offset") === 0)
      .agg(sum("n_users")).as[Long].head()
    val users = Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(day0 == users)
    // later offsets never exceed their cohort's day-0 population
    val byCohort = ret.as[(String, Int, Long)].collect()
      .groupBy(_._1).values
    assert(byCohort.forall { rows =>
      val d0 = rows.find(_._2 == 0).map(_._3).getOrElse(0L)
      rows.forall(_._3 <= d0)
    })
  }

  test("tfidf emits exactly one argmax row per non-empty document") {
    val out = SparkEntry.queries("q_tfidf")(spark, sf0001)
    val nonEmptyDocs = Tables.documents(spark, sf0001)
      .filter(size(graft.functions.GraftFunctions.tokens(col("text"))) > 0)
      .count()
    assert(out.count() == nonEmptyDocs)
    assert(out.select("doc_id").distinct().count() == nonEmptyDocs)
    // every winning term actually occurs in its document
    val joined = out.join(Tables.documents(spark, sf0001), "doc_id")
      .filter(!array_contains(
        graft.functions.GraftFunctions.tokens(col("text")), col("top_term")))
    assert(joined.count() == 0)
  }

  test("closed-form ANSI ntile from a global rank equals Spark's native ntile") {
    // q_rfm replaces the single-partition ntile window with a closed-form
    // split from the distributed global index; this pins the two formulas
    // together on sizes that exercise every remainder class (n mod 5),
    // including n < 5 where ntile degenerates to rank+1
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(3, 5, 7, 10, 23, 100, 101, 104)) {
      val df = spark.range(n.toLong).select(
        (col("id") * 37 % 91).as("v"), col("id").as("k"))
      val native = df.withColumn("q",
        ntile(5).over(Window.orderBy(col("v"), col("k"))))
      val ranked = graft.operators.PositionalTake
        .withGlobalIndex(df, Seq("v", "k"), "idx")
        .crossJoin(broadcast(df.agg(count(lit(1)).as("n_tot"))))
        .select(col("v"), col("k"),
          // the literal q_rfm formula (n < 5 degenerates to idx+1 via the
          // first branch: every idx sits below (n%5)*(0+1))
          expr("CASE WHEN idx < (n_tot % 5) * (n_tot div 5 + 1) " +
            "THEN idx div (n_tot div 5 + 1) + 1 " +
            "ELSE (n_tot % 5) + (idx - (n_tot % 5) * (n_tot div 5 + 1)) " +
            "div (n_tot div 5) + 1 END").as("q"))
      val diff = native.select(col("k"), col("q").cast("long").as("q"))
        .except(ranked.select(col("k"), col("q")))
      assert(diff.count() == 0, s"ntile mismatch at n=$n")
    }
  }

  test("skyline: no survivor is dominated; every non-survivor has a dominator") {
    val out = SparkEntry.queries("q_skyline")(spark, sf0001)
      .select("p_partkey").as[Long].collect().toSet
    val parts = Tables.part(spark, sf0001)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .as[(Long, Double, Int)].collect()
    def dominates(a: (Long, Double, Int), b: (Long, Double, Int)): Boolean =
      a._2 <= b._2 && a._3 >= b._3 && (a._2 < b._2 || a._3 > b._3)
    parts.foreach { p =>
      val dominated = parts.exists(q => dominates(q, p))
      assert(out.contains(p._1) == !dominated,
        s"part ${p._1}: dominated=$dominated but survivor=${out.contains(p._1)}")
    }
  }

  test("bigram top-20 is count-descending and counts match a direct recount") {
    val out = SparkEntry.queries("q_bigrams")(spark, sf0001)
      .as[(String, Long)].collect()
    assert(out.length == 20)
    assert(out.sliding(2).forall { case Array((_, a), (_, b)) => b <= a })
    // recount the top bigram by brute force over the token arrays
    val (top, n) = out.head
    val brute = Tables.documents(spark, sf0001)
      .select(graft.functions.GraftFunctions.tokens(col("text")).as("t"))
      .as[Seq[String]].collect()
      .iterator.flatMap(t => t.sliding(2).filter(_.length == 2))
      .count(p => s"${p.head} ${p(1)}" == top)
    assert(brute.toLong == n)
  }

  test("containment dominates jaccard: every jaccard pair reappears with containment >= jaccard") {
    // C = |A∩B|/min ≥ J = |A∩B|/|A∪B| pointwise, so the jaccard pair set
    // at threshold t must be a subset of the containment pair set at t
    val t = 0.4
    val jac = graft.ext.Dedup
      .ngramJaccardPairs(Tables.documents(spark, sf0001), "doc_id", "text",
        n = 3, threshold = t)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val con = SparkEntry.queries("q_containment_pairs")(spark, sf0001)
      .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(con.nonEmpty)
    assert(con.values.forall(c => c > 0 && c <= 1.0))
    jac.foreach { case (pair, j) =>
      assert(con.contains(pair), s"jaccard pair $pair missing from containment set")
      assert(con(pair) >= j - 1e-6, s"containment < jaccard for $pair")
    }
  }

  test("kaplan-meier: survival in (0,1], non-increasing; at-risk non-increasing") {
    val km = SparkEntry.queries("q_kaplan_meier")(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect()
    assert(km.nonEmpty)
    km.foreach { case (_, n, d, s) =>
      assert(d > 0 && d <= n); assert(s >= 0 && s <= 1.0)
    }
    assert(km.sliding(2).forall {
      case Array((_, n1, _, s1), (_, n2, _, s2)) => n2 <= n1 && s2 <= s1 + 1e-9
      case _ => true
    })
  }

  test("naive bayes confusion matrix partitions the tokenized corpus") {
    val conf = SparkEntry.queries("q_naive_bayes")(spark, sf0001)
      .as[(String, String, Long)].collect()
    val langs = Tables.documents(spark, sf0001)
      .select($"lang").distinct().as[String].collect().toSet
    assert(conf.forall { case (l, p, n) => langs(l) && langs(p) && n > 0 })
    // every doc with ≥1 token is classified exactly once
    val classified = conf.map(_._3).sum
    val nonEmpty = Tables.documents(spark, sf0001)
      .filter(size(graft.functions.GraftFunctions.tokens(lower($"text"))) > 0)
      .count()
    assert(classified == nonEmpty)
  }

  test("attribution bands cover every purchase; temporal split conserves rows and users") {
    val ev = Tables.events(spark, sf0001)
    val att = SparkEntry.queries("q_attribution")(spark, sf0001)
      .as[(String, Long, Double)].collect()
    assert(att.map(_._2).sum ==
      ev.filter($"event_type" === "purchase").count())
    val Array((trRows, teRows, trU, teU, bothU)) =
      SparkEntry.queries("q_temporal_split")(spark, sf0001)
        .as[(Long, Long, Long, Long, Long)].collect()
    assert(trRows + teRows == ev.count())
    val users = ev.select($"user_id").distinct().count()
    assert(trU + teU - bothU == users)
    assert(bothU <= math.min(trU, teU))
  }

  test("autocomplete completions carry their prefix; hard negatives carry a foreign label") {
    val ac = SparkEntry.queries("q_autocomplete")(spark, sf0001)
      .as[(String, String, Long)].collect()
    assert(ac.nonEmpty)
    ac.foreach { case (p, tok, n) =>
      assert(tok.startsWith(p) && p.length == 3 && n >= 20)
    }
    val labels = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val hn = SparkEntry.queries("q_hard_negatives")(spark, sf0001)
      .as[(Int, Long, Double)].collect()
    assert(hn.length == 50) // 10 labels x 5
    hn.foreach { case (centLabel, vecId, _) =>
      assert(labels(vecId) != centLabel,
        s"hard negative $vecId carries its own centroid label $centLabel")
    }
  }

  test("weighted median sits at half the quantity mass; peak concurrency is bounded") {
    val wm = SparkEntry.queries("q_weighted_median")(spark, sf0001)
      .as[(String, Double, Double, Double)].collect()
    assert(wm.length == 3)
    wm.foreach { case (flag, median, cum, tot) =>
      assert(2.0 * cum >= tot && cum <= tot)
      // brute-force check: quantity mass strictly below the median price
      // must be under half the total
      val below = Tables.lineitem(spark, sf0001)
        .filter($"l_returnflag" === flag && $"l_extendedprice" < median)
        .agg(coalesce(sum($"l_quantity"), lit(0.0))).as[Double].head()
      assert(2.0 * below < tot + 1e-9)
    }
    val Array((peak, _)) = SparkEntry.queries("q_peak_concurrency")(spark, sf0001)
      .as[(Long, Long)].collect()
    val sessions = Tables.events(spark, sf0001)
      .select($"user_id", to_date($"ts")).distinct().count()
    assert(peak >= 1 && peak <= sessions)
  }

  test("segmented prefix sum equals the naive global running total") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.PrefixSum
    // deterministic pseudo-random rows: unique key k, value from a hash;
    // bucket = k div 97 (monotone, compact segmentation of the order)
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((0L until 5000L).toList)
      .map(k => (k, (k * 2654435761L % 1000) - 200)) // negatives included
    val df = rows.toDF("k", "v").repartition(13)
    val got = PrefixSum.exclusive(df, floor($"k" / 97L), Seq($"k"), $"v", "ps")
      .select($"k", $"ps").as[(Long, Long)].collect().toMap
    val naive = df
      .withColumn("ps", coalesce(sum($"v").over(
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select($"k", $"ps").as[(Long, Long)].collect().toMap
    assert(got.size == 5000 && got == naive)
  }

  test("rank test equals the naive global-window rank sum; U symmetry holds") {
    import org.apache.spark.sql.expressions.Window
    val Array((nA, nB, u2A, auc)) = SparkEntry.queries("q_rank_test")(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect()
    // naive differential: one GLOBAL avg-rank window over the raw rows
    // (test-only shape — the production row is the bucket+carry split);
    // 2*avgrank for a tie run = 2*rank() + t - 1
    val ranked = Tables.lineitem(spark, sf0001)
      .filter($"l_returnflag".isin("R", "A"))
      .select(round($"l_extendedprice" * 100).cast("long").as("v"),
        ($"l_returnflag" === "R").as("is_a"))
      .withColumn("r2",
        rank().over(Window.orderBy("v")) * 2L +
          count(lit(1)).over(Window.partitionBy("v")) - 1L)
    def u2(flagA: Boolean): Long = {
      val r2 = ranked.filter($"is_a" === flagA)
        .agg(sum($"r2")).as[Long].head()
      val n = if (flagA) nA else nB
      r2 - n * (n + 1)
    }
    assert(u2(true) == u2A, "bucket+carry rank sum != naive global window")
    // U_A + U_B = 2*n_a*n_b (every cross pair contributes exactly 2)
    assert(u2(true) + u2(false) == 2 * nA * nB)
    assert(auc == u2A.toDouble / (2.0 * nA * nB))
  }

  test("ridge coefficients satisfy the regularized normal equations") {
    val Array((n, b0, b1, b2)) = SparkEntry.queries("q_ridge")(spark, sf0001)
      .as[(Long, Double, Double, Double)].collect()
    val m = Tables.lineitem(spark, sf0001)
      .select(
        round($"l_quantity").cast("long").as("x1"),
        round($"l_discount" * 100).cast("long").as("x2"),
        round($"l_extendedprice" * 100).cast("long").as("y"))
      .agg(count(lit(1)), sum($"x1"), sum($"x2"), sum($"y"),
        sum($"x1" * $"x1"), sum($"x1" * $"x2"), sum($"x2" * $"x2"),
        sum($"x1" * $"y"), sum($"x2" * $"y"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].head()
    val (cnt, s1, s2, sy, s11, s12, s22, s1y, s2y) = m
    assert(cnt == n)
    val nd = cnt.toDouble
    val (c11, c12, c22) = (s11 - s1.toDouble * s1 / nd,
      s12 - s1.toDouble * s2 / nd, s22 - s2.toDouble * s2 / nd)
    val (cy1, cy2) = (s1y - s1.toDouble * sy / nd, s2y - s2.toDouble * sy / nd)
    val lam = 1000.0
    // (C + λI) b = c_y, equation by equation, to relative 1e-9
    assert(math.abs((c11 + lam) * b1 + c12 * b2 - cy1) <= 1e-9 * math.abs(cy1))
    assert(math.abs(c12 * b1 + (c22 + lam) * b2 - cy2) <= 1e-9 * math.abs(cy2))
    // intercept recenters the means
    val (xb1, xb2, yb) = (s1 / nd, s2 / nd, sy / nd)
    assert(math.abs(yb - b1 * xb1 - b2 * xb2 - b0) <= 1e-9 * math.abs(yb))
  }
  test("bitmap exact-distinct == countDistinct across bucket boundaries") {
    // ids straddle the 32768-bit bucket boundary and reach into the
    // millions — the construction must count each distinct id once no
    // matter which bucket its bit lands in, duplicates included
    val ids = Seq(0L, 1L, 1L, 32766L, 32767L, 32768L, 32769L, 65535L,
      65536L, 1000000L, 1000000L, 7654321L) ++
      Seq.tabulate(500)(i => (i * 97 % 200000).toLong)
    val df = ids.toDF("id")
    val got = df
      .groupBy(expr("bitmap_bucket_number(id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(id))").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).as("n"))
      .head().getLong(0)
    assert(got == ids.distinct.size.toLong)
  }
  test("changelog apply == local reference; split-anywhere composition; upserts insert") {
    import graft.operators.Changelog
    val rnd = new scala.util.Random(13)
    val baseRows = Seq.tabulate(40)(i => (i.toLong, i * 10.0))
    // random log over keys 0..59 (40..59 exercise the upsert-INSERT path),
    // unique seqs, ~25% tombstones, several events per key
    val logRows = Seq.tabulate(300) { s =>
      (rnd.nextInt(60).toLong, s.toLong,
        if (rnd.nextInt(4) == 0) "D" else "U", rnd.nextInt(1000).toDouble)
    }
    val base = baseRows.toDF("k", "v")
    val log = logRows.toDF("k", "seq", "op", "v")
    // local reference: last-writer-wins, D drops, U upserts
    val last = logRows.groupBy(_._1).map { case (k, es) =>
      val (_, _, op, v) = es.maxBy(_._2); k -> (op, v)
    }
    val baseMap = baseRows.toMap
    val expected = (baseMap.keySet ++ last.keySet).flatMap { k =>
      last.get(k) match {
        case Some(("D", _)) => None
        case Some((_, v)) => Some(k -> v)
        case None => Some(k -> baseMap(k))
      }
    }
    val one = Changelog(base, log)
    assert(one.select("k", "v").as[(Long, Double)].collect().toSet == expected)
    // src labels: updated iff the key appears in the compacted log with U
    val updated = one.filter($"src" === "updated")
      .select("k").as[Long].collect().toSet
    assert(updated == last.collect { case (k, ("U", _)) => k }.toSet)
    // inserts actually occurred (keys absent from base survive as U)
    assert(updated.exists(_ >= 40L))
    // composition: applying the log split at an arbitrary seq boundary in
    // two batches equals the one-shot application (on the final state;
    // src labels are per-batch provenance and legitimately differ)
    val mid = 150L
    val two = Changelog(
      Changelog(base, log.filter($"seq" < mid)).select("k", "v"),
      log.filter($"seq" >= mid))
    assert(two.select("k", "v").as[(Long, Double)].collect().toSet == expected)
  }
  test("mix-shift decomposition sums exactly to the topline delta") {
    // the algebra the row exists for: sum(mix) + sum(within)
    // = sum(w2*r2) - sum(w1*r1) = R2 - R1; only 6-dp output rounding
    // separates the engine readout from the identity
    val rows = SparkEntry.queries("q_mix_shift")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    def sumOf(c: String) = rows.map(_.getAs[Double](c)).sum
    val topline =
      rows.map(r => r.getAs[Double]("w2") * r.getAs[Double]("r2")).sum -
        rows.map(r => r.getAs[Double]("w1") * r.getAs[Double]("r1")).sum
    assert(math.abs(sumOf("mix_contrib") + sumOf("within_contrib") - topline)
      <= 5e-5)
  }
}
