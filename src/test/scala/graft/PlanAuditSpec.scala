package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.catalog.Support.withConf

/** Plan-shape assertions for write-layout catalog queries: the property
  * these rows exist to pin (which bytes a scan is allowed to touch) is
  * visible only in the physical plan, not in the result — the counterpart
  * of `BucketingSpec`'s exchange-free check for the bucketed join.
  */
class PlanAuditSpec extends SparkTestBase {

  test("q_pruned_scan prunes at the partition level (PartitionFilters non-empty)") {
    val df = SparkEntry.queries("q_pruned_scan")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filters in plan:\n$plan")
    val pf = plan.split("PartitionFilters: \\[").last.takeWhile(_ != ']')
    assert(pf.contains("event_date"),
      s"partition filter does not carry the date predicate: [$pf]")
    // the date predicate prunes directories, so it must NOT also appear as
    // a row-level data filter on the scan
    val dataF = plan.split("PushedFilters: \\[").last.takeWhile(_ != ']')
    assert(!dataF.contains("event_date"),
      s"date predicate leaked into row-group filters: [$dataF]")
    assert(df.count() > 0)
  }

  test("q_dpp_join plants a dynamic-pruning subquery on the fact partition column") {
    val df = SparkEntry.queries("q_dpp_join")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.split("PartitionFilters: \\[").drop(1)
      .map(_.takeWhile(_ != ']')).mkString("; ")
    assert(pf.toLowerCase.contains("dynamicpruning"),
      s"fact scan carries no dynamic-pruning partition filter: [$pf]\n$plan")
    assert(df.count() > 0)
  }

  test("runtime bloom filter injects on a selective shuffle join") {
    // the row-level counterpart of q_dpp_join's partition-level pruning:
    // a selective dim-side predicate becomes a bloom filter evaluated
    // inside the fact scan, cutting shuffle input before the exchange —
    // at 100 TB this is what keeps a 1%-selective PK-FK join from
    // shuffling the full fact table. Thresholds are lowered to make the
    // optimizer's size heuristics fire at test scale, in a conf scope
    // (shared test session).
    import graft.sources.Tables
    // expected count planned OUTSIDE the conf window (no bloom, default
    // join strategy) — the baseline the bloom-filtered plan must equal
    val expected = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .count()
    withConf(spark,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        // force the shuffle join the filter targets
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
      val ord = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom runtime filter on the fact side:\n$plan")
      // semantics preserved: the bloom is a pre-filter, never a decider
      assert(joined.count() == expected && expected > 0)
    }
  }

  test("SQL UDF inlines into the plan (no black-box UDF node, codegen intact)") {
    val df = SparkEntry.queries("q_sql_udf")(spark, sf0001)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
    // a JVM UDF would appear as ScalaUDF and break codegen; the SQL UDF
    // must instead show up as its expanded arithmetic inside the aggregate
    assert(!plan.contains("ScalaUDF"), s"black-box UDF node in plan:\n$plan")
    assert(plan.contains("abs("), s"function body not inlined:\n$plan")
    // `*(n)` prefixes mark WholeStageCodegen spans in the plan toString;
    // the aggregate consuming the inlined body must sit inside one
    assert(plan.contains("*(1) HashAggregate"), s"codegen lost:\n$plan")
  }

  test("single-scan rows read their fact exactly once") {
    // these rows were rewritten from multi-pass shapes (grid self-joins,
    // totals passes, shifted-key self-joins) to one corpus scan with
    // compact-domain windows; a regression re-introducing a second scan
    // of the fact table fails here
    for (name <- Seq("q_cuped", "q_mix_shift", "q_seasonal_naive",
        "q_rolling_mau", "q_diff_in_diff", "q_partition_stats")) {
      val plan =
        SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
      val scans = "FileScan parquet".r.findAllIn(plan).size
      assert(scans == 1, s"$name: expected exactly 1 fact scan, got $scans")
    }
  }

  test("ANN queries scan the persisted index table with list_id partition pruning") {
    // first invocation builds the write-once index; the second must READ it
    SparkEntry.queries("q_ivf_topk")(spark, sf0001).collect()
    val df = SparkEntry.queries("q_ivf_topk")(spark, sf0001)
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("graft_ann_idx_"),
      s"second execution does not read the persisted index:\n${analyzed.take(800)}")
    val physical = df.queryExecution.executedPlan.toString
    // the isin probe filter must prune at the PARTITION level (list_id is
    // the partition column), not as a post-scan row filter. The plan now
    // also contains the exact-side embeddings scan (empty PartitionFilters),
    // so check EVERY PartitionFilters section, not just the last
    assert(physical.contains("PartitionFilters: ["), physical.take(800))
    val pfs = physical.split("PartitionFilters: \\[").drop(1)
      .map(_.takeWhile(_ != ']')).toSeq
    assert(pfs.exists(_.contains("list_id")),
      s"probe not partition-pruned: [${pfs.mkString(" | ")}]")
    // and the composed IVF+PQ path reads the same artifact
    val ivfpq = SparkEntry.queries("q_ivfpq_topk")(spark, sf0001)
      .queryExecution.analyzed.toString
    assert(ivfpq.contains("graft_ann_idx_"))
  }

  test("ANN index survives a fresh catalog: attach, don't retrain") {
    // driver process model: Verify and Bench are separate JVMs with empty
    // in-memory catalogs — the artifact must be attached, never rebuilt
    val q = SparkEntry.queries("q_ivf_topk")
    val first = q(spark, sf0001).collect().toSeq
    val idxDirs = Option(new java.io.File("/tmp/graft_ann").listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isDirectory).map(d => new java.io.File(d, "index"))
      .filter(_.exists())
    assert(idxDirs.nonEmpty)
    def snapshot() = idxDirs.flatMap { d =>
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty).flatMap(walk)
        else Seq(f)
      walk(d).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified())
    }.toMap
    val before = snapshot()
    spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("graft_ann_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    val second = q(spark, sf0001).collect().toSeq
    assert(second == first, "attached index returned different top-k")
    assert(snapshot() == before, "index files rewritten on re-attach")
  }

  test("compaction reduces file count and preserves every row") {
    val out = SparkEntry.queries("q_compaction")(spark, sf0001)
    assert(out.count() ==
      graft.sources.Tables.events(spark, sf0001).count())
    def parquetFiles(p: String): Int =
      Option(new java.io.File(p).listFiles()).map(
        _.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    val dirs = new java.io.File("/tmp/graft_compact").listFiles()
      .filter(_.isDirectory)
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val nSmall = parquetFiles(s"$d/small")
      val nCompacted = parquetFiles(s"$d/compacted")
      assert(nSmall >= 32, s"staged fragmentation missing in $d: $nSmall")
      assert(nCompacted <= 8,
        s"compaction left $nCompacted files in $d (want ≤ 8)")
    }
  }

  test("z-ordered layout prunes a non-leading-dimension range scan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val events = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zo").toString
    // comparison layout: same data, same file count, user_id-sorted — the
    // layout a single-column sortBy gives, where value stats span every file
    events.repartitionByRange(16, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(s"$dir/byuser")
    graft.sources.Layout.writeZOrdered(events, Seq("user_id", "value"), s"$dir/zorder")
    def scanned(path: String): (Long, Set[Long]) = {
      val df = spark.read.parquet(path)
        .filter(col("value") >= 100.0 && col("value") < 120.0)
      // collect THIS dataset (a .select would plan a fresh queryExecution
      // and the metrics below would read an unexecuted plan)
      val ids = df.collect().map(_.getAs[Long]("event_id")).toSet
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val decoded = plan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (decoded, ids)
    }
    val (plainRows, plainIds) = scanned(s"$dir/byuser")
    val (zoRows, zoIds) = scanned(s"$dir/zorder")
    info(s"decoded rows for the value-range filter: user-sorted=$plainRows z-ordered=$zoRows")
    // identical ANSWERS — layout must never change results
    assert(zoIds == plainIds && zoIds.nonEmpty)
    // the z-ordered layout's min/max stats admit far fewer rows for a
    // range on the NON-leading dimension
    assert(zoRows * 2 <= plainRows,
      s"z-order pruned nothing: $zoRows vs $plainRows decoded")
  }

  test("q_filter's predicate reaches the parquet scan (PushedFilters)") {
    val plan = SparkEntry.queries("q_filter")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ") &&
      plan.contains("LessThan(l_extendedprice"),
      s"filter not pushed to scan:\n${plan.take(2000)}")
  }

  test("q_sum reads only the aggregated column (ReadSchema pruning)") {
    val plan = SparkEntry.queries("q_sum")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_quantity"),
      s"scan schema not pruned to l_quantity:\n${plan.take(2000)}")
    assert(!plan.contains("l_extendedprice"),
      "sum scan reads columns the aggregate never touches")
  }

  test("q_sum and q_tpch_q6 merge their partial aggregates on the driver, with no SinglePartition exchange") {
    for (q <- Seq("q_sum", "q_tpch_q6")) {
      val df = SparkEntry.queries(q)(graftSpark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("DriverMerge") && !plan.contains("!DriverMerge") &&
        !plan.contains("SinglePartition"), s"$q:\n$plan")
    }
  }

  test("bloom prefilter probes the fact scan below the semi join") {
    val plan = SparkEntry.queries("q_bloom_prefilter")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloommightcontain"),
      "bloom probe expression missing from the physical plan")
    val joinIdx = plan.indexOf("LeftSemi")
    assert(joinIdx >= 0, "semi join missing from the physical plan")
    // the tree prints top-down: the probe's Filter must sit BELOW the
    // join (i.e. in the scan stage, cutting rows before any exchange)
    assert(plan.indexOf("bloommightcontain") > joinIdx,
      "bloom probe is not below the semi join")
  }

  test("q_edit_pairs: ≤3 exchanges, no join, codegen'd pair-enumeration + verify") {
    val df = SparkEntry.queries("q_edit_pairs")(spark, sf0001)
    // drive THIS QueryExecution to completion so the finalized adaptive
    // plan (the one the pin guards) exists
    df.queryExecution.toRdd.count(): Unit
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // r14 verdict #1: the whole pipeline crosses at most THREE exchanges —
    // the posting groupBy(bucket), the surviving-pair distinct, and the
    // caller's orderBy. (r15 verdict #4's map-side min-bucket dedup was
    // tried and measured SLOWER at scale — see editDistancePairs' note —
    // so the distinct exchange is the intended shape.)
    val exchanges = finalPlan.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("ReusedExchange"))
    assert(exchanges <= 3, s"$exchanges exchanges (>3):\n$finalPlan")
    // the posting table itself crosses exactly ONE of them
    val postingShuffles = finalPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(bucket#") &&
        !l.contains("ReusedExchange"))
    assert(postingShuffles == 1,
      s"posting table shuffled $postingShuffles times:\n$finalPlan")
    // inspect the finalized TREE for shape assertions (the rendered
    // string's formatting is Spark-version-dependent). QueryStage and
    // ReusedExchange nodes are leaf wrappers whose subtree
    // TreeNode.collect does not descend into — flatten through them
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val finalTree = df.queryExecution.executedPlan
    val allNodes = flatten(finalTree)
    // pair enumeration is an in-bucket explode, NOT a join: no join
    // operator of any kind may appear (an SMJ here means the old
    // two-sort self-join shape regressed back in)
    val joins = allNodes.collect { case j: BaseJoinExec => j }
    assert(joins.isEmpty, s"pair enumeration regressed to a join:\n$finalTree")
    assert(allNodes.collect { case j: SortMergeJoinExec => j }.isEmpty)
    // and the inline levenshtein verify runs inside whole-stage codegen
    // (a CodegenFallback condition would demote the hot filter): some
    // WholeStageCodegenExec subtree must contain the verify FilterExec
    val codegenned = allNodes.collect {
      case w: WholeStageCodegenExec if w.collectFirst {
        case f: FilterExec
          if f.condition.toString.contains("boundedlevenshtein") => f
      }.isDefined => w
    }
    assert(codegenned.nonEmpty,
      s"levenshtein verify fell out of whole-stage codegen:\n$finalTree")
  }

  test("q_corpus_pipeline: posting shuffle materializes once; stage results are reused, not recomputed") {
    val df = SparkEntry.queries("q_corpus_pipeline")(spark, sf0001)
    df.queryExecution.toRdd.count(): Unit
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the 3-gram posting table (the pipeline's one expensive shuffle) must
    // shuffle ONCE: the self-join's second side and every downstream
    // consumer reads it back as a ReusedExchange
    val postingShuffles = finalPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(gram_h#") &&
        !l.contains("ReusedExchange"))
    assert(postingShuffles == 1,
      s"gram posting shuffled $postingShuffles times:\n$finalPlan")
    // the five stages all hang off the SAME dedup-survivor id set; its
    // broadcast must be built once and reused by every consumer (a
    // recompute would re-run the normalize+min-window per stage)
    assert(finalPlan.linesIterator.count(_.contains("ReusedExchange")) >= 3,
      s"stage results recomputed instead of reused:\n$finalPlan")
  }

  test("q_lm_score: corpus tokenized once; LM branches reuse the perDoc exchange") {
    val df = SparkEntry.queries("q_lm_score")(spark, sf0001)
    df.queryExecution.toRdd.count(): Unit
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the tokenize+explode scan is the row's only expensive narrow stage;
    // the c1/c2 LM branches must read the per-doc bigram aggregate back as
    // ReusedExchange, not re-derive it from a second scan (the regression
    // this pin guards: a mismatched inferred null filter broke subtree
    // canonical equality and re-tokenized the whole corpus)
    val generates = finalPlan.linesIterator.count(_.contains("Generate explode"))
    assert(generates == 1, s"corpus tokenized $generates times:\n$finalPlan")
    assert(finalPlan.linesIterator.count(_.contains("ReusedExchange")) >= 2,
      s"LM branches recomputed instead of reused:\n$finalPlan")
  }

  test("q_tfidf: corpus tokenized once; df rolls up the tf aggregate via ReusedExchange") {
    val df = SparkEntry.queries("q_tfidf")(spark, sf0001)
    df.queryExecution.toRdd.count(): Unit
    // split on the TOP-LEVEL Initial Plan marker only (line-anchored "+-"
    // prefix): the N scalar subquery prints its own nested, indented
    // "== Initial Plan ==" marker BEFORE the main join subtree, and a
    // plain substring split would cut the tree there (0 Generates seen)
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("(?m)^\\+- == Initial Plan ==").head
    // r19 finding (deferred to r20 for the anchor re-record): the df CTE
    // branch pruned the tf count column, canonical subtree equality broke,
    // and the corpus carried TWO Generate explode(tokenize) subtrees. The
    // no-op `WHERE tf > 0` pins the aggregate's full column set so the df
    // branch reads the (doc_id, term) exchange back as ReusedExchange.
    val generates = finalPlan.linesIterator.count(_.contains("Generate explode"))
    assert(generates == 1, s"corpus tokenized $generates times:\n$finalPlan")
    assert(finalPlan.linesIterator.exists(_.contains("ReusedExchange")),
      s"df branch recomputed instead of reused:\n$finalPlan")
  }

  test("q_naive_bayes: corpus tokenized once; all rollups reuse the shared exchanges") {
    val df = SparkEntry.queries("q_naive_bayes")(spark, sf0001)
    df.queryExecution.toRdd.count(): Unit
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the (doc, lang, token)-count aggregate is the row's only expensive
    // stage; the class rollup, vocab count, likelihoods, doc totals and
    // scoring join must all read it (or its rollups) back as
    // ReusedExchange — the regressions this pin guards: unevenly inferred
    // null filters (3 tokenizations) and RemoveRedundantAggregates
    // collapsing pruned branches into fresh corpus scans (5)
    val generates = finalPlan.linesIterator.count(_.contains("Generate explode"))
    assert(generates == 1, s"corpus tokenized $generates times:\n$finalPlan")
    assert(finalPlan.linesIterator.count(_.contains("ReusedExchange")) >= 3,
      s"NB rollups recomputed instead of reused:\n$finalPlan")
  }

  test("no catalog query plans a cartesian/nested-loop join outside the allowlist") {
    // BroadcastNestedLoopJoin / CartesianProduct are O(n·m) — at 100 TB a
    // plan containing one (outside a deliberate, size-bounded use) is a
    // scale bug regardless of what the small-SF result says.
    val allow = Set(
      "q_cosine_pairs", // the quarantined quadratic recall oracle (by design)
      "q_take", // PositionalTake's prefix-sum: triangular join over the
                // numPartitions-row count aggregate — metadata-sized
      "q_gini", // same prefix-sum shape (withGlobalIndex) as q_take
      "q_bm25", // corpus stats feed back as a broadcast cross-join of ONE
                // row (N, avgdl, per-term df) — size-bounded by design
      // verdict-row oracles attach a ONE-row scalar verdict/stat to a
      // k-row (or 1-row) result: Catalyst folds the literal join key away
      // and plans the 1-row broadcast as BNLJ — size-bounded by design
      "q_hll_merge", // 1-row exact-distinct joined to the 1-row merge
      "q_embed_lsh_topk", // 1-row recall verdict onto the exact top-20
      "q_ivf_topk",
      "q_ivfpq_topk",
      "q_pq_topk",
      // pairRecallVerdict rows: the 1-row broadcast verdict attach (the
      // join on a constant key folds to BNLJ — the q_hll_merge shape).
      // Their exact audit sides are write-once staged artifacts (r11,
      // stagedExactPairs), so the quarantined quadratic scan appears only
      // in the per-corpus build, never the steady-state plan; the LSH
      // candidate joins are equi-keyed. q_knn_label_noise is the same
      // shape over the staged suspect set (r10 #6)
      "q_embed_pairs",
      "q_doc_embed_pairs",
      "q_minhash_pairs",
      "q_knn_label_noise",
      "q_graph_triangles", // three 1-row global stats (edges/triangles/
                           // wedges) cross-joined into the single result row
      "q_collocations", // the 1-row bigram total attached to the PMI scan,
                        // same shape as q_bm25's corpus stats
      // 1-row broadcast stat attaches (midpoint/anchor/total), the
      // q_bm25/q_collocations shape — size-bounded by design
      "q_chi2_drift", // 1-row midpoint + 1-row grand total
      "q_tpch_q11", // the 1-row (total, n_parts) broadcast gating the
                    // value cut — the q_bm25 corpus-stats shape
      "q_tpch_q22", // Q22's uncorrelated scalar subquery: the 1-row
                    // mean-positive-balance broadcast gating the probe side
      "q_decay_score", // 1-row max-timestamp anchor
      "q_time_to_event", // 1-row signup count onto the 1-row quartiles
      // withGlobalIndex prefix-sum (triangular join over the
      // numPartitions-row aggregate, metadata-sized) — the q_take/q_gini
      // shape — plus, for q_rfm, the 1-row customer-count attach
      "q_rfm",
      "q_decile_lift", // same withGlobalIndex prefix-sum + 1-row user-count
                       // attach as q_rfm, at k=10
      "q_zipf_slope",
      "q_dataset_card", // three 1-row aggregate passes meet in broadcast
                        // attaches (avoids a 4x multi-distinct Expand)
      "q_calibration", // 1-row total-count attach onto the decile cut
      "q_seasonality", // 1-row grand-total attach for the share column
      "q_benford", // 1-row grand-total attach onto the 9-digit profile
      "q_token_budget", // 1-row budget attach onto the source domain
      "q_minhash_tuning", // the ≤10-row decile histogram × 3-row band-config
                          // grid — metadata-sized planner output
      "q_bootstrap_ci", // the 32-row replicate axis broadcast against the
                        // purchase scan — the bounded map-side expansion
                        // that IS the distributed bootstrap
      "q_quantile_merge", // the 3-row merged-pick axis broadcast against
                          // one orders scan (rank-interval audit) — the
                          // q_bootstrap_ci bounded-expansion shape
      "q_quantile_normalize", // the 9-row decile axis broadcast against the
                              // compact per-source count table (not the
                              // corpus) — the q_bootstrap_ci shape
      "q_trend_test", // Mann-Kendall's triangular day<day join over the
                      // ~30-row daily aggregate plus two 1-row stat
                      // attaches — metadata-sized, the q_take shape
      "q_naive_bayes", // 1-row vocab-size / doc-count and 5-row class-axis
                       // broadcast attaches — the q_bm25 corpus-stats shape
      "q_temporal_split", // 1-row min/max cutoff attach onto the event scan
      "q_pca_power", // 1-row norm attach onto the 64-row loading vector
      "q_coverage_curve", // 1-row corpus-stats attach onto the indexed scan
      "q_label_centroids", // triangular join over the 10-row centroid
                           // table — metadata-sized
      "q_hard_negatives", // 10-row centroid axis broadcast against one
                          // corpus scan (label<>centroid is the join
                          // condition); ANN index is the 100 TB path
      "q_hybrid_fusion", // the q_bm25 1-row corpus-stats attach, feeding
                         // both scorers from one scan
      "q_negative_sample", // 1-row max-partkey attach onto the customer
                           // scan (candidate range bound) — size-bounded
                           // by design, the q_bm25 shape
      "q_hll_intersect", // 1-row exact-counts × 1-row sketch-estimates
                         // broadcast attach (the q_chi2_drift shape); the
                         // lit-key equi-join constant-folds to BNLJ 1×1
      "q_dsv2_lineage" // 1-row total-files attach onto the 3-row per-flag
                       // lineage aggregate (the q_hll_intersect shape)
    )
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow)
      .flatMap { name =>
        val plan =
          try SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
          catch { case e: Throwable => s"PLAN FAILED: $e" }
        if (plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin") ||
          plan.startsWith("PLAN FAILED")) Some(name -> plan.linesIterator.take(3).mkString("; "))
        else None
      }
    assert(offenders.isEmpty,
      s"quadratic join shapes outside the allowlist:\n${offenders.mkString("\n")}")
  }

  test("pair queries read the staged (id, signature) artifacts instead of re-deriving") {
    // first invocation writes the write-once projections; the second must
    // READ them (the stagedDupPairs/annIndex artifact discipline)
    SparkEntry.queries("q_minhash_pairs")(spark, sf0001).collect()
    val mh = SparkEntry.queries("q_minhash_pairs")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(mh.contains("graft_sigs"),
      s"q_minhash_pairs does not scan the staged signature artifact:\n${mh.take(800)}")
    SparkEntry.queries("q_doc_embed_pairs")(spark, sf0001).collect()
    val de = SparkEntry.queries("q_doc_embed_pairs")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(de.contains("graft_sigs"),
      s"q_doc_embed_pairs does not scan the staged tf-vec artifact:\n${de.take(800)}")
    // the exact audit sides read the write-once staged pair sets (r11):
    // the quarantined quadratic scan is paid per corpus, not per run
    assert(mh.contains("graft_pairs"),
      s"q_minhash_pairs does not read its staged exact pair set:\n${mh.take(800)}")
    assert(de.contains("graft_pairs"),
      s"q_doc_embed_pairs does not read its staged exact pair set:\n${de.take(800)}")
  }

  test("q_knn_label_noise serves its production path from the persisted ANN index") {
    // first invocation builds the write-once index; the second must READ it
    SparkEntry.queries("q_knn_label_noise")(spark, sf0001).collect()
    val df = SparkEntry.queries("q_knn_label_noise")(spark, sf0001)
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("graft_ann_idx_"),
      s"production path does not read the persisted index:\n${analyzed.take(800)}")
    // the exact audit side reads the write-once staged suspect set — the
    // sample×corpus scan is paid once per corpus, never per run (r10 #6)
    assert(df.queryExecution.executedPlan.toString.contains("graft_knn"),
      "exact audit side does not read the staged suspect artifact")
    // and the row still emits a TRUE verdict (the recall floor holds)
    val row = df.collect()
    assert(row.nonEmpty && row.forall(_.getBoolean(2)),
      "ann_ok verdict is not uniformly TRUE at sf0.001")
  }

  test("no catalog query plans an unpartitioned Window outside the allowlist") {
    // An unpartitioned Window moves EVERY input row to one task
    // ("No Partition Defined for Window operation") — at 100 TB that is a
    // scale bug unless the window's input is compact by construction (a
    // per-day/per-bucket aggregate, a post-TopK bounded result). The
    // allowlist carries the rationale for every legitimate use; a future
    // row reintroducing a global window over raw data fails here.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Window => LogicalWindow, WindowGroupLimit}
    val allow = Map(
      // per-day / per-bucket aggregate domains (KB-scale at any corpus
      // size — the day/bucket count, never the row count)
      "q_changepoint" -> "cumulative SSE + argmin over the per-day aggregate",
      "q_kaplan_meier" -> "risk-set/survival windows over the per-day event table",
      "q_peak_concurrency" -> "carry-in over the per-day NET aggregate; the sweep itself is day-partitioned",
      "q_rank_test" -> "carry-in over the ~110-row $1k-bucket totals (bounded by the price RANGE, not rows); the rank prefix itself is bucket-partitioned",
      "q_auc" -> "PrefixSum carry over the fixed-width value-bucket totals (bounded by the score RANGE, not rows — the q_rank_test contract); the per-value prefix itself is bucket-partitioned (r19: replaced the row-level global index)",
      "q_decile_lift" -> "cumulative/total sums over the 10-row decile grid; the user ranking is the distributed global index",
      "q_psi_drift" -> "cohort totals over the value-bucket count table (fixed-width buckets)",
      "q_ks_drift" -> "ECDF over the compact distinct-length domain (pre-bucket for continuous metrics)",
      "q_skyline" -> "strictly-cheaper prefix-max over the per-price grid (one row per distinct price)",
      "q_cms_freq" -> "stream total over the per-event-type group rows (single-digit domain)",
      "q_token_budget" -> "greedy fill over the per-source aggregate (compact source domain)",
      "q_sample_mix" -> "sampleToMix feasibility min over the per-source count table",
      "q_corpus_pipeline" -> "sampleToMix stage: same per-source count table window",
      "q_corpus_offsets" -> "PrefixSum carry over the bucket-total table (width = max_doc_id/1024 so the carry is capped at ~1025 rows at any corpus size — the q_rank_test bounded-bucket contract)",
      "q_cuped" -> "additive global θ-statistics summed over the ≤2-row per-arm table (single events scan; replaced a second corpus pass)",
      "q_mix_shift" -> "period totals over the ≤|segment|-row decomposition table (single events scan; replaced a 4-scan grid self-join)",
      "q_seasonal_naive" -> "RANGE [-7,-7] forecast lookup over the per-day aggregate (calendar-gap-safe; replaced a shifted-key self-join)",
      // bounded post-TopK / result-set domains
      "q_hybrid_fusion" -> "ranks derived from the <=50-row TakeOrdered survivors per ranking",
      "q_embed_lsh_topk" -> "annRecallVerdict rank over the 20 exact rows post-TopK",
      "q_ivf_topk" -> "annRecallVerdict rank over the 20 exact rows post-TopK",
      "q_ivfpq_topk" -> "annRecallVerdict rank over the 20 exact rows post-TopK",
      "q_pq_topk" -> "annRecallVerdict rank over the 20 exact rows post-TopK")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow.contains)
      .flatMap { name =>
        val wins =
          try SparkEntry.queries(name)(spark, sf0001)
            .queryExecution.optimizedPlan.collectWithSubqueries {
              case w: LogicalWindow if w.partitionSpec.isEmpty => "Window"
              case w: WindowGroupLimit if w.partitionSpec.isEmpty =>
                "WindowGroupLimit"
            }
          catch { case e: Throwable => Seq(s"PLAN FAILED: $e") }
        if (wins.isEmpty) None else Some(s"$name: ${wins.mkString(", ")}")
      }
    assert(offenders.isEmpty,
      s"unpartitioned windows outside the allowlist:\n${offenders.mkString("\n")}")
    // the allowlist must not rot: every entry still names a catalog row
    val stale = allow.keys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"allowlist entries for unknown queries: $stale")
  }

  test("q_rfm: quintiles ride the distributed rank — no single-partition window") {
    val df = SparkEntry.queries("q_rfm")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // the closed-form ntile exists precisely to avoid WindowExec over an
    // unpartitioned global ordering (all rows to one task at scale); the
    // distributed range sort itself now lives INSIDE withGlobalIndex's
    // zipWithIndex subquery, surfacing here as the ExistingRDD boundary
    assert(!plan.contains("Window"), s"window crept back into q_rfm:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"no zipWithIndex rank boundary in q_rfm:\n$plan")
  }

  test("withGlobalIndex is a dense 0..n-1 permutation even when its output is consumed twice") {
    // regression: the old two-pass prefix-sum formulation let column
    // pruning give the counts subtree a narrower scan than the main
    // subtree; the two range exchanges then sampled DIFFERENT boundaries
    // (RangePartitioner seeds by RDD id) and the composed index had
    // duplicates and gaps (an 11-bucket decile histogram at sf0.01).
    // zipWithIndex computes both of its passes over one shuffle output,
    // so the index must be dense under any consumer plan.
    import graft.operators.PositionalTake
    import graft.sources.Tables
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    val scored = Tables.events(spark, sf0001)
      .select(col("event_id"), col("value"))
    val total = scored.agg(count(lit(1)).as("n_total"))
    val idx = PositionalTake
      .withGlobalIndex(scored, Seq("value", "event_id"), "idx")
      .crossJoin(broadcast(total))
    val buckets = idx
      .groupBy((col("idx") * 10 / col("n_total")).cast("long").as("b"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val n = scored.count()
    assert(buckets.length == 10, s"expected 10 buckets, got ${buckets.toSeq}")
    assert(buckets.map(_.getLong(1)).sum == n)
    assert(buckets.map(_.getLong(1)).max - buckets.map(_.getLong(1)).min <= 1,
      s"uneven decile sizes — index not dense: ${buckets.toSeq}")
  }

  test("q_markov and q_scd2: one user_id exchange feeds the window(s)") {
    for (name <- Seq("q_markov", "q_scd2")) {
      val df = SparkEntry.queries(name)(spark, sf0001)
      df.queryExecution.toRdd.count(): Unit
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // q_scd2 runs two windows over the same user_id partitioning; both
      // must sit on ONE exchange of the event stream (lag + the post-filter
      // lead re-sort shuffle-free)
      val userShuffles = finalPlan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(user_id#") &&
          !l.contains("ReusedExchange"))
      assert(userShuffles == 1,
        s"$name: expected 1 user_id exchange, got $userShuffles:\n$finalPlan")
    }
  }

  test("q_vocab_coverage: vocabulary probes as a broadcast, not a term shuffle") {
    val df = SparkEntry.queries("q_vocab_coverage")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // the token stream must never hash-shuffle on the unbounded term
    // domain for the OOV probe — the top-K vocab is broadcast-sized
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab probe is not a broadcast join:\n$plan")
  }

  test("boundedHashJoin sizes partitions to the build budget, else sort-merge") {
    import org.apache.spark.sql.functions._
    val left = spark.range(10000).select(col("id").as("fk"), col("id").as("y"))
    val right = spark.range(1000).select(col("id").as("pk"), col("id").as("x"))
    // generous budget -> shuffled hash at the default partition count
    val shj = graft.operators.Relational
      .boundedHashJoin(left, right, "fk", "pk", executionMemBytes = 1L << 34)
      .queryExecution.sparkPlan.toString
    assert(shj.contains("ShuffledHashJoin"), shj)
    // tight budget -> still SHJ, but the partition count grows so each
    // per-task build fits (16 KB / 2 / 4 cores = 2 KB per task; 16 KB
    // build x4 expansion -> 32+ partitions instead of the default 4)
    val sized = graft.operators.Relational
      .boundedHashJoin(left, right, "fk", "pk", executionMemBytes = 16384)
      .queryExecution.sparkPlan
    assert(sized.toString.contains("ShuffledHashJoin"), sized.toString)
    val parts = sized.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.numPartitions
    }
    assert(parts.nonEmpty && parts.forall(_ > 4), s"partitions not raised: $parts")
    // hopeless budget -> the hint must NOT be applied; spillable sort-merge
    val smj = graft.operators.Relational
      .boundedHashJoin(left, right, "fk", "pk", executionMemBytes = 2,
        maxParts = 64)
      .queryExecution.sparkPlan.toString
    assert(smj.contains("SortMergeJoin"), smj)
    // and every strategy returns the same row multiset
    val expected = left.join(right, col("fk") === col("pk")).count()
    Seq(1L << 34, 16384L, 2L).foreach { mem =>
      val n = graft.operators.Relational
        .boundedHashJoin(left, right, "fk", "pk",
          executionMemBytes = mem, maxParts = 64)
        .count()
      assert(n == expected, s"mem=$mem: $n != $expected")
    }
  }

  test("q_bucket_lookup opens only the probed buckets (SelectedBucketsCount)") {
    val df = SparkEntry.queries("q_bucket_lookup")(spark, sf0001)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in plan:\n${plan.take(1200)}")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"probe scanned every bucket: ${m.get.matched}")
  }

  test("AQE splits a skewed shuffle join (skew=true in the final plan)") {
    // the automatic remedy BESIDE q_salted_join's manual one: a hot key
    // concentrating half the probe side must be split by
    // OptimizeSkewedJoin at runtime, not melt one task. Thresholds are
    // lowered so the sf-test-scale skew qualifies; broadcast is disabled
    // to force the shuffle join AQE can operate on.
    import org.apache.spark.sql.functions._
    withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB") {
      val left = spark.range(400000L).select(
        when(col("id") % 2 === 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(100000L)
        .select(col("id").as("k2"), (col("id") * 3).as("w"))
      val joined = left.join(right, col("k") === col("k2"))
      // materialize THIS dataframe (count() would plan a separate query
      // execution and leave joined's own adaptive plan unexecuted)
      assert(joined.collect().length == 250000) // 200k key-7 + 50k odd
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n${finalPlan.take(1500)}")
    }
  }

  test("q_multi_distinct plans the Expand shape (x N distinct groups), fact scanned once") {
    // the documented cost model of exact multi-distinct: ONE scan, rows
    // replicated by Expand for the per-column dedup — never one scan per
    // distinct column. The pin keeps the row honest about which shape
    // Catalyst picked (a regression to separate scans would double IO at
    // 100 TB; a missing Expand would mean the semantics changed).
    val df = SparkEntry.queries("q_multi_distinct")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Expand"),
      s"multi-distinct lost its Expand shape:\n${plan.take(1500)}")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"fact scanned more than once:\n${plan.take(1500)}")
    assert(df.count() > 0)
  }

  test("q_sql_udtf: table function inlines to Generate; decorrelation reuses the fact exchange") {
    // two properties of the SQL UDTF execution shape: (a) the body is
    // INLINED as a codegen'd Generate(inline(...)) — no black-box UDTF
    // node — and (b) Spark's lateral decorrelation (dedup the correlation
    // key, join back) REUSES the compact aggregate's exchange at runtime,
    // so the fact is scanned exactly once. (b) is only visible in the
    // final adaptive plan, so the df is collected first.
    val df = SparkEntry.queries("q_sql_udtf")(spark, sf0001)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Generate inline"),
      s"UDTF body not inlined as Generate:\n${plan.take(1500)}")
    assert(!plan.toLowerCase.contains("udtf"),
      s"black-box UDTF node in plan:\n${plan.take(1500)}")
    assert(plan.contains("ReusedExchange"),
      s"decorrelation re-scanned the fact instead of reusing its exchange:\n${plan.take(2000)}")
  }

  test("q_label_prop rides the staged bucketed edge table, not a re-derivation") {
    // the LPA row shares qPagerank's staged bucketed-on-src co-purchase
    // graph: every round's vote join must read the graft_pr_ed table —
    // never rebuild the orders⋈lineitem edge list
    val df = SparkEntry.queries("q_label_prop")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_pr_ed"),
      s"label prop does not read the staged edge table:\n${plan.take(1500)}")
    assert(!plan.contains("lineitem.parquet"),
      "label prop re-derives the edge list from raw lineitem")
    assert(df.count() > 0)
  }

  test("q_cbo_reorder: ANALYZE stats drive the star join smallest-first") {
    // syntactic order is ((lineitem JOIN orders) JOIN customer) — the two
    // BIG tables first. With column stats + CBO join reorder the optimizer
    // must join the small relations (filtered customer, orders) at the
    // bottom and the fact table last; the builder forces planning inside
    // its conf window, so the materialized optimizedPlan is the CBO one.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the builder caches its (2-row) result so Verify/Bench's fresh
    // QueryExecutions execute the CBO plan; a PRIOR build in this session
    // (the catalog-wide audits) would make this df resolve to the
    // InMemoryRelation — clear it so the pin sees the raw CBO join tree
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q_cbo_reorder")(spark, sf0001)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 2, s"expected a 2-join star, got ${joins.size}")
    val innermost = joins.last.collectLeaves().map(_.toString).mkString("; ")
    assert(!innermost.contains("lineitem"),
      s"CBO did not reorder: fact table still in the innermost join: $innermost")
    assert(innermost.contains("orders") && innermost.contains("customer"),
      s"unexpected innermost join inputs: $innermost")
    assert(df.count() > 0)
  }

  test("partsupp staging keeps the corpus-wide distinct parallel (no coalesce(1) choke)") {
    // the build path shared by q_tpch_q2/q9/q11/q16/q20: the distinct over
    // all observed (partkey, suppkey) pairs — linear in the corpus at
    // 100 TB — must reduce on a multi-partition hashpartitioning exchange;
    // only the KB-scale deduped artifact write may serialize, via a
    // post-agg round-robin repartition(1), never a Coalesce (which would
    // propagate to the reduce side and dedup the corpus on one task).
    val df = graft.catalog.Tpch.partsuppStaging(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Coalesce"),
      s"staging plan collapses via Coalesce:\n${plan.take(1500)}")
    val hashEx = "hashpartitioning\\([^)]*?(\\d+)\\)".r.findFirstMatchIn(plan)
    assert(hashEx.isDefined,
      s"distinct lost its hashpartitioning exchange:\n${plan.take(1500)}")
    assert(hashEx.get.group(1).toInt > 1,
      s"distinct reduces on a single partition: ${hashEx.get.matched}")
    assert(plan.contains("RoundRobinPartitioning(1)") ||
      plan.contains("SinglePartition"),
      s"no post-agg single-file repartition found:\n${plan.take(1500)}")
    assert(df.count() > 0)
  }

  test("q_bloom_semijoin prunes partitions via a static bloom, not DPP") {
    // the contrast row to q_dpp_join: the bloom probe references only the
    // partition column, so Catalyst must classify it as a PartitionFilter
    // (directory pruning at listing time) and the no-DPP conf window must
    // keep the runtime subquery out — exactly one pruning mechanism
    spark.catalog.clearCache() // builder caches; pin wants the raw plan
    val df = SparkEntry.queries("q_bloom_semijoin")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.split("PartitionFilters: \\[").drop(1)
      .map(_.takeWhile(_ != ']')).mkString("; ")
    assert(pf.toLowerCase.replace("_", "").contains("mightcontain"),
      s"bloom probe did not become a partition filter: [$pf]")
    assert(!plan.toLowerCase.contains("dynamicpruning"),
      s"DPP crept back into the bloom row:\n${plan.take(1200)}")
    assert(df.count() > 0)
  }

  test("q_dsv2_source: pushdown reaches the custom connector") {
    // the DataSourceV2 contract, pinned in the scan description the
    // source emits: id range FOLDED into the generated range, the id
    // column PRUNED away (nothing above the scan needs it once the
    // filters are consumed), and the non-consumable mod7 predicate
    // surviving as the plan's only residual row filter
    val df = SparkEntry.queries("q_dsv2_source")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SeqScan(range=[250000,750000)"),
      s"id filters not folded into the source range:\n${plan.take(1200)}")
    val cols = "cols=([a-z0-9,]+)".r.findFirstMatchIn(plan).map(_.group(1))
    assert(cols.contains("mod7,cents"),
      s"column pruning did not reach the source: cols=$cols")
    val filters = plan.linesIterator.count(_.trim.startsWith("+- Filter"))
    assert(filters <= 1,
      s"consumed id filters re-checked as residual FilterExec:\n${plan.take(1200)}")
    assert(df.count() == 6)
  }

  test("q_dsv2_agg_pushdown: the source answers the aggregates, no agg operator planned") {
    // complete aggregate pushdown: the plan must be a bare Project over
    // the 1-row SeqAggScan — any *Aggregate operator means Spark
    // recomputed what the source already answered in closed form
    val df = SparkEntry.queries("q_dsv2_agg_pushdown")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SeqAggScan(range=[100000,900000)"),
      s"aggregates not pushed into the source:\n${plan.take(1200)}")
    assert(!plan.contains("Aggregate"),
      s"an aggregate operator survived complete pushdown:\n${plan.take(1200)}")
    // the decline leg: grouped/mod7 aggregates must fall back to the row
    // path (SeqScan), never a wrong closed form
    val declined = SparkEntry.queries("q_dsv2_source")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(declined.contains("SeqScan(") && !declined.contains("SeqAggScan"),
      s"grouped aggregate wrongly claimed by the source:\n${declined.take(800)}")
    assert(df.count() == 1)
  }

  test("q_dsv2_topn: ORDER BY id DESC LIMIT 5 answered by source range arithmetic") {
    val df = SparkEntry.queries("q_dsv2_topn")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SeqScan(range=[899995,900000)") &&
      plan.contains("ordered=desc"),
      s"TopN not folded into the source range:\n${plan.take(1200)}")
    assert(!plan.contains("Sort") && !plan.contains("TakeOrdered") &&
      !plan.contains("Limit"),
      s"a sort/limit operator survived complete TopN pushdown:\n${plan.take(1200)}")
    // rows arrive in the pushed order from the single ordered partition
    val ids = df.collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(899999L, 899998L, 899997L, 899996L, 899995L), ids.toString)
  }

  test("q_dsv2_runtime_filter: dim keys prune the custom source's partitions at runtime") {
    val df = SparkEntry.queries("q_dsv2_runtime_filter")(spark, sf0001)
    // the runtime narrowing only exists in the EXECUTED plan (the dim's
    // key set is a runtime artifact)
    df.queryExecution.toRdd.count(): Unit
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // a real (non-constant-folded) dynamic pruning expression reached the
    // custom scan
    assert(plan.contains("RuntimeFilters: [dynamicpruningexpression(id#"),
      s"no runtime filter on the custom scan:\n${plan.take(1500)}")
    // the scan narrowed its range at runtime (the static range stays the
    // full domain — nothing was statically inferable) …
    assert(plan.contains("SeqScan(range=[0,1000000), runtime=["),
      s"scan did not narrow at runtime:\n${plan.take(1500)}")
    // … and PRUNED grid cells: 32 static slices, at most a couple survive
    // (sf0.001 order keys span ~1.5k of the 1M domain)
    val parts = ", parts=(\\d+)".r.findFirstMatchIn(plan).map(_.group(1).toInt)
    assert(parts.exists(p => p >= 1 && p <= 2),
      s"runtime filter pruned nothing: parts=$parts\n${plan.take(1500)}")
    assert(df.count() == 1)
  }

  test("q_dsv2_spj: storage-partitioned join plans with zero shuffles") {
    val df = SparkEntry.queries("q_dsv2_spj")(spark, sf0001)
    df.queryExecution.toRdd.count(): Unit
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // both sides declare the keyed layout and plan all 7 residue classes
    assert("keyed=mod7".r.findAllIn(plan).size == 2,
      s"keyed scans missing:\n${plan.take(1500)}")
    assert("parts=7".r.findAllIn(plan).size == 2,
      s"residue partitions not planned:\n${plan.take(1500)}")
    // the join itself is partition-aligned sort-merge
    assert(plan.contains("SortMergeJoin"),
      s"SPJ did not plan a merge join:\n${plan.take(1500)}")
    // ZERO clustering shuffles: the per-side GROUP BY mod7 and the join
    // both ride KeyGroupedPartitioning — a hashpartitioning exchange
    // anywhere means the layout declaration was ignored
    assert(!plan.contains("hashpartitioning"),
      s"a clustering shuffle crept above the keyed scans:\n${plan.take(2000)}")
    // the only exchange allowed is the presentational orderBy's range
    // partitioning
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"exchanges=$exchanges:\n${plan.take(2000)}")
    assert(df.count() == 7)
  }

  test("keyed layout width knob: buckets=32 plans 32 aligned partitions, zero shuffle, exact join") {
    // the r16 executor-width sweep's named cause for spj_keyed's flat
    // scaling past ~7 cores is that SPJ parallelism equals the layout's
    // cluster count; this pins the WRITE-SIDE knob that unlocks it — the
    // same join declared at 32 buckets plans 32 key-aligned partitions
    // with still zero clustering exchanges, and stays exact
    def seq32(n: Long) = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", n).option("keyed", true).option("buckets", 32).load()
    val fact = seq32(100000L)
    val dim = seq32(32L)
      .select(org.apache.spark.sql.functions.col("mod32"),
        org.apache.spark.sql.functions.col("cents").as("dc"))
    val joined = fact.join(dim.hint("MERGE"), "mod32")
    joined.queryExecution.toRdd.count(): Unit
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("keyed=mod32".r.findAllIn(plan).size == 2, plan.take(1500))
    assert("parts=32".r.findAllIn(plan).size == 2, plan.take(1500))
    assert(!plan.contains("hashpartitioning"), plan.take(2000))
    // exactness: every fact row joins exactly one dim row
    assert(joined.count() == 100000L)
    import org.apache.spark.sql.functions.{col, countDistinct, sum}
    val chk = joined
      .agg(sum(col("id")).as("s"), countDistinct(col("mod32")).as("k"))
      .head()
    assert(chk.getLong(0) == 99999L * 100000L / 2 && chk.getLong(1) == 32L)
  }

  test("q_dsv2_lineage: the partitioned write shuffles by flag once; lineage rides the scan") {
    val df = SparkEntry.queries("q_dsv2_lineage")(spark, sf0001)
    assert(df.count() == 3)
    // the read-back half: `_file` reached the scan as a required column
    // (no join, no extra pass — lineage is a per-partition constant)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("_file"), plan.take(1200))
    assert(plan.contains("StageScan(path="), plan.take(1200))
    // the committed layout: exactly one shard per flag, recorded in the
    // partition map the connector persisted (tag dir discovered by glob —
    // dirTag is a content hash)
    val roots = Option(new java.io.File("/tmp/graft_dsv2w").listFiles())
      .getOrElse(Array.empty)
      .map(d => new java.io.File(d, "lineage")).filter(_.isDirectory)
    assert(roots.nonEmpty, "no staged lineage table found")
    // the LATEST snapshot's shards (readParts retains older snapshots'
    // lines — their files stay readable via version_as_of)
    val parts = roots.map { r =>
      val live = graft.sources.v2.StageSource
        .snapshotFiles(r.getAbsolutePath, None).map(_.getName).toSet
      graft.sources.v2.StageSource.readParts(r.getAbsolutePath)
        .filter(kv => live(kv._1))
    }.maxBy(_.size)
    assert(parts.size == 3, parts.toString)
    assert(parts.values.map(_.mkString("/")).toSet == Set("A", "N", "R"),
      parts.toString)
  }

  test("q_dsv2_catalog/q_dsv2_delete: partition pruning + takedown leave survivors untouched") {
    assert(SparkEntry.queries("q_dsv2_catalog")(spark, sf0001).count() == 3)
    val cat = spark.sessionState.conf.getAllConfs.keys
      .filter(_.matches("spark\\.sql\\.catalog\\.stage_[0-9a-f]+"))
      .map(_.stripPrefix("spark.sql.catalog."))
      .headOption.getOrElse(fail("stage catalog not registered"))
    // equality on the partition column opens ONE of the three shards —
    // exact pruning from the partition map, visible in the scan
    val probe = spark.sql(
      s"SELECT count(*) AS n FROM $cat.default.ord_part WHERE status = 'O'")
    probe.collect(): Unit
    val plan = probe.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.exists(x => x.group(1).toInt == 1 && x.group(2).toInt == 3),
      s"partition pruning missing: ${plan.take(1200)}")
    assert(plan.contains("partBy="), plan.take(1200))
    // the takedown drops exactly the P/F shards; O's file survives with
    // its stats intact
    assert(SparkEntry.queries("q_dsv2_delete")(spark, sf0001).count() == 1)
    val root = new java.io.File(
      s"/tmp/graft_dsv2cat/${cat.stripPrefix("stage_")}/default/ord_takedown")
    val parts = graft.sources.v2.StageSource.readParts(root.getAbsolutePath)
    assert(parts.values.map(_.mkString("/")).toSet == Set("O"), parts.toString)
    assert(graft.sources.v2.StageSource.dataFiles(root.getAbsolutePath).length == 1)
  }

  test("q_dsv2_stats_agg: the staging sidecars answer COUNT/MIN/MAX; unsafe shapes decline") {
    val df = SparkEntry.queries("q_dsv2_stats_agg")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("StageAggScan("),
      s"aggregates not answered from the sidecars:\n${plan.take(1200)}")
    assert(!plan.contains("Aggregate"),
      s"an aggregate operator survived complete pushdown:\n${plan.take(1200)}")
    assert(df.count() == 1)
    // decline legs: a filter, a SUM, and a double column must each fall
    // back to the row path (StageScan + a real aggregate)
    val root = Option(new java.io.File("/tmp/graft_dsv2w").listFiles())
      .getOrElse(Array.empty)
      .map(d => new java.io.File(d, "statsagg")).filter(_.isDirectory)
      .maxBy(_.lastModified).getAbsolutePath
    def back = spark.read.format("graft.sources.v2.StageSource")
      .option("path", root).load()
    import org.apache.spark.sql.functions.{count => cnt, lit, max => mx, sum => sm}
    for (declined <- Seq(
      back.filter(org.apache.spark.sql.functions.col("k") > 100L)
        .agg(cnt(lit(1))),
      back.agg(sm(org.apache.spark.sql.functions.col("k"))),
      back.agg(mx(org.apache.spark.sql.functions.col("k") * 1.0)))) {
      val p = declined.queryExecution.executedPlan.toString
      assert(!p.contains("StageAggScan") && p.contains("Aggregate"),
        s"unsafe aggregate wrongly claimed by the sidecars:\n${p.take(800)}")
    }
  }

  test("StageScan statistics: pruned __rows reach the planner and flip the join strategy") {
    // r16 verdict #2: estimateStatistics used to report the WHOLE
    // snapshot's bytes and an empty numRows even though the __rows
    // sidecar records exact per-file counts — join-strategy and AQE
    // decisions over staged tables fell back to unpruned size
    // heuristics. Now both numbers describe the PRUNED file list, and
    // the same join flips broadcast↔sort-merge purely on which
    // partition the filter keeps.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stage_stats").toString + "/t"
    val fmt = "graft.sources.v2.StageSource"
    spark.sql(
      """SELECT id AS k, CAST(id % 997 AS BIGINT) AS v,
        |       CASE WHEN id < 100 THEN 'tiny' ELSE 'big' END AS grp
        |FROM range(0, 200000)""".stripMargin)
      .write.format(fmt).option("path", dir)
      .option("partition_by", "grp").mode("overwrite").save()
    val back = spark.read.format(fmt).option("path", dir).load()
    // the exact pruned row count reaches the logical plan's stats
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r if r.getClass.getSimpleName == "DataSourceV2ScanRelation" =>
          r.stats
      }.head
    val tiny = back.filter(col("grp") === "tiny")
    val big = back.filter(col("grp") === "big")
    assert(scanStats(tiny).rowCount.contains(BigInt(100)),
      scanStats(tiny).toString)
    assert(scanStats(big).rowCount.contains(BigInt(199900)),
      scanStats(big).toString)
    // the flip: with a threshold between the two pruned sizes, the tiny
    // partition broadcasts and the big one sort-merges — SAME table,
    // SAME join, only the partition filter differs
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "65536") {
      val probe = spark.range(0, 1000000).select(col("id").as("pk"))
      def planOf(side: org.apache.spark.sql.DataFrame): String = {
        val j = probe.join(side, col("pk") === col("k"))
        j.queryExecution.toRdd.count(): Unit
        j.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      }
      val tinyPlan = planOf(tiny)
      assert(tinyPlan.contains("BroadcastHashJoin"),
        s"pruned-tiny side did not broadcast:\n${tinyPlan.take(1500)}")
      val bigPlan = planOf(big)
      assert(!bigPlan.contains("BroadcastHashJoin"),
        s"pruned-big side wrongly broadcast:\n${bigPlan.take(1500)}")
    }
  }

  test("staged-table SPJ: the committed layout is reported; join + aggs plan zero shuffles") {
    // r16 verdict #3: StageSource wrote clustered (required distribution
    // by the partition columns) but its scan never declared the layout,
    // so real staged data couldn't get the zero-shuffle SPJ the
    // synthetic keyed source demonstrates. Now the scan reports
    // KeyGroupedPartitioning over files-with-recorded-keys — including
    // MULTIPLE files per key from separate appends, which Spark groups.
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val base = java.nio.file.Files
      .createTempDirectory("graft_stage_spj").toString
    val fmt = "graft.sources.v2.StageSource"
    spark.sql(
      "SELECT id AS k, id % 8 AS b, id * 3 AS cents FROM range(0, 10000)")
      .write.format(fmt).option("path", s"$base/l")
      .option("partition_by", "b").mode("overwrite").save()
    // a second append: two files per key on the left — grouped, not
    // degraded
    spark.sql(
      "SELECT id AS k, id % 8 AS b, id * 3 AS cents FROM range(10000, 12000)")
      .write.format(fmt).option("path", s"$base/l")
      .option("partition_by", "b").mode("append").save()
    spark.sql("SELECT id % 8 AS b, id AS q FROM range(0, 4000)")
      .write.format(fmt).option("path", s"$base/r")
      .option("partition_by", "b").mode("overwrite").save()
    val l = spark.read.format(fmt).option("path", s"$base/l").load()
      .groupBy("b").agg(count(lit(1)).as("l_rows"), sum("cents").as("l_cents"))
    val r = spark.read.format(fmt).option("path", s"$base/r").load()
      .groupBy("b").agg(count(lit(1)).as("r_rows"))
    val j = l.hint("merge").join(r, "b")
    j.queryExecution.toRdd.count(): Unit
    val plan = j.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("StageScan\\(path=".r.findAllIn(plan).size == 2, plan.take(1500))
    assert(!plan.contains("hashpartitioning"),
      s"a clustering shuffle crept above the staged keyed scans:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    // exactness over the grouped two-append left side
    assert(j.count() == 8)
    val row = j.filter(col("b") === 0).head()
    assert(row.getLong(row.fieldIndex("l_rows")) == 1500L, row.toString)
    assert(row.getLong(row.fieldIndex("r_rows")) == 500L, row.toString)
  }

  test("staged keyed layout declares ordering: a direct staged merge join plans sort-free") {
    // Same trick as SeqScan's SupportsReportOrdering (measured 1.78 s →
    // 0.54 s there): every key-grouped staged partition holds exactly
    // one partition value — a constant is trivially sorted — so a
    // DIRECT merge join of two staged tables needs no per-partition
    // sort and no exchange at all. (Aggregate-then-join shapes still
    // sort above the hash aggregate; that sort belongs to the
    // aggregate, not the scan.)
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_stage_ord").toString
    val fmt = "graft.sources.v2.StageSource"
    spark.sql("SELECT id % 8 AS b, id AS x FROM range(0, 1000)")
      .write.format(fmt).option("path", s"$base/l")
      .option("partition_by", "b").mode("overwrite").save()
    spark.sql("SELECT id % 8 AS b, id AS y FROM range(0, 800)")
      .write.format(fmt).option("path", s"$base/r")
      .option("partition_by", "b").mode("overwrite").save()
    val l = spark.read.format(fmt).option("path", s"$base/l").load()
    val r = spark.read.format(fmt).option("path", s"$base/r").load()
    val j = l.hint("merge").join(r, "b")
    j.queryExecution.toRdd.count(): Unit
    val plan = j.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), plan.take(1200))
    assert(!plan.contains("Sort ["),
      s"a per-partition sort survived the ordering declaration:\n${plan.take(1500)}")
    assert(!plan.linesIterator.exists(_.contains("Exchange ")),
      s"an exchange crept into the direct staged SPJ:\n${plan.take(1500)}")
    assert(j.count() == 100000L) // 1000×800 ÷ 8 keys = 125×100 per key × 8
  }

  test("q_dsv2_spj_staged: the catalog row joins two staged tables exchange-free") {
    val df = SparkEntry.queries("q_dsv2_spj_staged")(spark, sf0001)
    df.queryExecution.toRdd.count(): Unit
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("StageScan\\(path=".r.findAllIn(plan).size == 2, plan.take(1500))
    assert(!plan.contains("hashpartitioning"),
      s"a clustering shuffle crept above the staged scans:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    // the only exchange allowed is the presentational orderBy's range
    // partitioning
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"exchanges=$exchanges:\n${plan.take(2000)}")
    assert(df.count() == 8)
  }

  test("q_dsv2_spj_dim: the direct staged PK-FK join subtree is sort-free and exchange-free") {
    val df = SparkEntry.queries("q_dsv2_spj_dim")(spark, sf0001)
    df.queryExecution.toRdd.count(): Unit
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("StageScan\\(path=".r.findAllIn(plan).size == 2, plan.take(1500))
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    // the join subtree: everything BELOW the SortMergeJoin line must be
    // free of sorts and exchanges (the post-join aggregate's small label
    // shuffle and the presentational orderBy live above it)
    val below = plan.linesIterator
      .dropWhile(!_.contains("SortMergeJoin")).drop(1).mkString("\n")
    assert(!below.contains("Sort ["),
      s"a sort crept below the staged merge join:\n${below.take(1200)}")
    assert(!below.contains("Exchange "),
      s"an exchange crept below the staged merge join:\n${below.take(1200)}")
    assert(df.count() == 8)
  }

  test("q_dsv2_write: the connector write plans a V2 write node and commits atomically") {
    // capture the save command's EXECUTED plan via a listener — the V1
    // DataFrameWriter.save path exposes no QueryExecution to the caller
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = SparkEntry.queries("q_dsv2_write")(spark, sf0001)
      assert(df.count() == 3)
      org.apache.spark.graftshim.ListenerBusShim.drain(
        spark.sparkContext, timeoutMillis = 10000)
      // SaveMode.Overwrite through a TRUNCATE-capable V2 table plans
      // OverwriteByExpression, not a V1 InsertIntoHadoopFsRelation
      assert(plans.asScala.exists(p =>
        p.contains("OverwriteByExpression") || p.contains("AppendData")),
        s"no V2 write node in any executed plan:\n${plans.asScala.map(_.take(200)).mkString("\n---\n")}")
      // the read-back goes through the connector scan, not parquet
      val readPlan = df.queryExecution.executedPlan.toString
      assert(readPlan.contains("StageScan(path="), readPlan.take(800))
      // commit layout: only committed part files + schema + marker are
      // visible; no temp file leaked out of .staging
      val dirs = new java.io.File("/tmp/graft_dsv2w").listFiles()
      assert(dirs != null && dirs.nonEmpty)
      val table = dirs.flatMap(d =>
        Option(new java.io.File(d, "flagstats").listFiles())
          .getOrElse(Array.empty)).map(_.getName)
      assert(table.contains("_SUCCESS") && table.contains("_schema.ddl"),
        s"commit layout incomplete: ${table.mkString(",")}")
      assert(table.exists(_.startsWith("part-")))
      assert(!table.exists(_.endsWith(".tmp")), s"leaked temp: ${table.mkString(",")}")
    } finally spark.listenerManager.unregister(l)
  }

  test("incremental-agg base staging keeps the partial aggregate parallel") {
    // same law as the partsupp pin: the corpus-wide partial aggregate
    // must reduce on a multi-partition exchange; only the KB-scale
    // day-keyed artifact write serializes, via post-agg repartition(1)
    val df = graft.catalog.Analytics.incrementalAggBase(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Coalesce"),
      s"staging plan collapses via Coalesce:\n${plan.take(1500)}")
    val hashEx = "hashpartitioning\\([^)]*?(\\d+)\\)".r.findFirstMatchIn(plan)
    assert(hashEx.isDefined,
      s"partial agg lost its hashpartitioning exchange:\n${plan.take(1500)}")
    assert(hashEx.get.group(1).toInt > 1,
      s"partial agg reduces on a single partition: ${hashEx.get.matched}")
    assert(plan.contains("RoundRobinPartitioning(1)") ||
      plan.contains("SinglePartition"),
      s"no post-agg single-file repartition found:\n${plan.take(1500)}")
    assert(df.count() > 0)
  }

  test("no catalog query plans a Coalesce(1) directly above an aggregate") {
    // CoalesceExec(1) collapses its WHOLE stage — every operator down to
    // the previous shuffle boundary runs as one task. Above a scan or a
    // union that only serializes a file write; above an aggregate's
    // reduce side it runs the corpus-wide aggregation single-threaded
    // (the partsupp r12 choke). This audit generalizes that pin to every
    // catalog row: no Coalesce-to-1 whose exchange-free subtree contains
    // an aggregate, anywhere in the catalog.
    import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.{
      BaseAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    def aggInStage(p: SparkPlan): Boolean = p match {
      case _: Exchange => false // next stage — coalesce no longer applies
      case _: BaseAggregateExec | _: SortAggregateExec => true
      case other => other.children.exists(aggInStage)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        // sparkPlan (pre-AQE) keeps Exchange nodes visible and unwrapped;
        // plain collect, not collectWithSubqueries — pre-preparation
        // subquery expressions still hold LOGICAL plans (coalesce can't
        // appear inside a scalar subquery anyway: it returns one row)
        val chokes = SparkEntry.queries(name)(spark, sf0001)
          .queryExecution.sparkPlan.collect {
            case c: CoalesceExec
              if c.numPartitions == 1 && c.children.exists(aggInStage) => c
          }
        if (chokes.isEmpty) None else Some(name)
      } catch { case e: Throwable => Some(s"$name (PLAN FAILED: $e)") }
    }
    assert(offenders.isEmpty,
      s"Coalesce(1) chokes an aggregate stage in: ${offenders.mkString(", ")}")
  }

  test("cached scans feed fused operators as column vectors, and only those") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.functions.{count, lit, sum}
    val s = graftSpark
    val helper = new AdaptiveSparkPlanHelper {}
    def finalPlan(df: DataFrame): SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
    }
    // (cached scans, ColumnarToRow transitions, transitions over a cached
    // scan); a cached scan is an adaptive `TableCacheQueryStage` or, in a
    // plan with no exchange (grouping-free aggregates merge on the driver),
    // a bare in-memory scan: the helper descends into query stages, so
    // counting the scans counts each once either way
    def shape(df: DataFrame): (Int, Int, Int) = {
      val p = finalPlan(df)
      val c2r = helper.collect(p) {
        case ColumnarToRowExec(InputAdapter(c)) => c
        case ColumnarToRowExec(c) => c
      }
      (helper.collect(p) { case t: InMemoryTableScanExec => t }.length,
        c2r.length, c2r.count(graft.plans.ColumnarCacheRead.vectorCache))
    }
    val longs = s.range(10000).select(col("id").as("idx"), (col("id") % 97).as("v")).cache()
    val other = s.range(5000).select((col("id") * 3).as("v")).cache()
    val strs = s.range(1000).select(col("id"), col("id").cast("string").as("s")).cache()
    def sortedOn(n: Long) = s.range(n).select(col("id").as("k"))
      .repartition(4, col("k")).sortWithinPartitions("k").cache()
    val sortedL = sortedOn(1000)
    val sortedR = sortedOn(500)
    try {
      assert(shape(longs.agg(sum("v"))) == (1, 1, 1))
      assert(shape(longs.filter(col("v") < 10).agg(count(lit(1)))) == (1, 1, 1))
      // a grouped aggregate keeps its exchange, so its scan is a query stage
      assert(shape(longs.groupBy(col("v") % 3).agg(sum("idx"))) == (1, 1, 1))
      // one transition per scan, also with two cached scans in one plan
      assert(shape(longs.select("v").filter(col("v") > 5)
        .union(other.filter(col("v") > 5)).agg(count(lit(1)))) == (2, 2, 2))
      assert(longs.filter(col("v") < 10).count() == spark.range(10000).filter(col("id") % 97 < 10).count())
      // a scan straight under an exchange, at the root, straight under a
      // shuffled join, or with a string column keeps the row reader
      assert(shape(longs.repartition(8, col("v")).agg(count(lit(1)), sum("v")))._2 == 0)
      assert(shape(longs)._2 == 0)
      assert(shape(sortedL.join(sortedR.hint("MERGE"), "k"))._2 == 0)
      assert(shape(strs.filter(col("id") > 5).agg(count(lit(1))))._2 == 0)
      // with whole-stage codegen off nothing fuses, so nothing is wrapped
      withConf(s, "spark.sql.codegen.wholeStage" -> "false") {
        assert(shape(longs.agg(sum("v")))._2 == 0)
      }
      assert(shape(longs.agg(sum("v"))) == (1, 1, 1))
    } finally Seq(longs, other, strs, sortedL, sortedR).foreach(_.unpersist())
  }

  test("sf0.1 bench artifact records zero spill on every catalog row") {
    // r13 verdict #6: "no spills" was a profiling anecdote — now it is a
    // gate. The close-out chain runs the full sf0.1 bench (which writes
    // per-query spill_mb into BENCH_LAST.json via MetricsListener)
    // BEFORE `sbt test`, so this tripwire reads the fresh artifact: any
    // catalog row spilling at sf0.1 under local[32]/128G means its
    // partition sizing would not survive a 100x scale-up and fails here.
    // Cancelled (not passed) when the artifact is absent or not sf0.1.
    val f = new java.io.File("BENCH_LAST.json")
    assume(f.exists(), "no BENCH_LAST.json — run the bench chain first")
    val line = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assume(line.contains("sf0.1"), "BENCH_LAST.json is not an sf0.1 run")
    val spillMap = "\"spill_mb\":\\{([^}]*)\\}".r
      .findFirstMatchIn(line).map(_.group(1))
    assume(spillMap.isDefined,
      "BENCH_LAST.json predates the spill_mb field — re-run the bench")
    val spills = spillMap.get.split(",").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split(":")
      k.stripPrefix("\"").stripSuffix("\"") -> v.toDouble
    }
    assert(spills.nonEmpty, "spill_mb map is empty")
    val offenders = spills.filter(_._2 > 0.0)
    assert(offenders.isEmpty,
      s"catalog rows spilled at sf0.1: ${offenders.map {
        case (k, v) => s"$k=${v}MB" }.mkString(", ")}")
  }
}
