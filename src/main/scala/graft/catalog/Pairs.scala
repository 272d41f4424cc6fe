package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Components, Dedup, IvfIndex, Sampling, Similarity, TextAnalysis}
import graft.functions.NativeExpressions
import graft.functions.GraftFunctions._
import graft.sources.Tables
import graft.catalog.Support._
import graft.catalog.Tag._

/** Pair-finding rows: exact and near-duplicate detection, similarity
  * search (exact, LSH, IVF/PQ), and the clustering built on pair sets.
  */
object Pairs extends Family {

  /** Shared oracle for the ANN verdict rows ([[annRecallVerdict]]): the
    * exact cosine top-20 with rank, plus the recall verdict asserted TRUE.
    * One SQL text serves all four families because their output IS the
    * exact side — only the in-plan audit differs, and that collapses to a
    * boolean.
    */
  private val annVerdictOracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |     q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |     top AS (
      |       SELECT e.vec_id AS id,
      |              CASE WHEN list_dot_product(e.v, e.v) = 0
      |                     OR list_dot_product(q.qv, q.qv) = 0 THEN 0.0
      |                   ELSE ROUND(list_dot_product(e.v, q.qv) /
      |                              (sqrt(list_dot_product(e.v, e.v)) *
      |                               sqrt(list_dot_product(q.qv, q.qv))), 6)
      |              END AS cos
      |       FROM e, q ORDER BY cos DESC, id LIMIT 20)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS BIGINT) AS rnk,
      |       id, cos, TRUE AS ann_ok
      |FROM top ORDER BY rnk""".stripMargin

  // q_dup_clusters and q_recursive_cte share ONE oracle text: same
  // cluster labels, two engine-side mechanisms (pointer jumping vs the
  // native recursive CTE) — the sharpest possible differential
  private val dupClustersOracle: String =
    """WITH RECURSIVE
      |sh AS (
      |  SELECT doc_id AS id,
      |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
      |                                  for i in generate_series(1, len(t) - 2)])
      |         END AS g
      |  FROM (SELECT doc_id,
      |               list_filter(string_split_regex(lower(text), '\s+'),
      |                           x -> len(x) > 0) AS t
      |        FROM documents)),
      |posting AS (SELECT id, unnest(g) AS gram FROM sh),
      |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
      |shared AS (SELECT gram FROM posting
      |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
      |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      |  FROM pruned a JOIN pruned b USING (gram)
      |  WHERE a.id < b.id GROUP BY 1, 2),
      |pairs AS (
      |  SELECT i.id_a, i.id_b
      |  FROM inter i
      |  JOIN sizes sa ON i.id_a = sa.id
      |  JOIN sizes sb ON i.id_b = sb.id
      |  WHERE CAST(i.n_inter AS DOUBLE) /
      |        CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
      |lbl AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
      |SELECT comp AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      |FROM lbl GROUP BY comp ORDER BY cluster_id""".stripMargin

  /** [[dupClustersOracle]]'s graph rebuilt from raw text, extended with a
    * recursive BFS from the component minima — the oracle for
    * [[qGraphBfs]]. The recursion is depth-bounded (dist < 20, matching
    * hopDistance's maxIter) so cycles terminate; MIN(dist) per node then
    * yields the shortest hop count.
    */
  private val dupBfsOracle: String = {
    val cut = dupClustersOracle.lastIndexOf("\nSELECT comp AS cluster_id")
    dupClustersOracle.substring(0, cut) +
      """,
        |seeds AS (SELECT DISTINCT comp AS id FROM lbl),
        |bfs(id, dist) AS (
        |  SELECT id, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.id
        |  WHERE b.dist < 20),
        |dmin AS (SELECT id, MIN(dist) AS dist FROM bfs GROUP BY id)
        |SELECT l.id AS doc_id, l.comp AS cluster_id,
        |       CAST(d.dist AS BIGINT) AS dist
        |FROM lbl l JOIN dmin d ON l.id = d.id
        |ORDER BY doc_id""".stripMargin
  }

  /** N-gram containment pairs ([[Dedup.ngramContainmentPairs]]): the
    * subset/quote detector Jaccard structurally misses — a short document
    * fully contained in a long one has containment ≈ 1 but Jaccard ≈ 0.
    * Threshold 0.4 on 3-gram sets; the contained (smaller) side is
    * identified per pair, which is what a curation pipeline drops or
    * merges.
    */
  private def qContainmentPairs(s: SparkSession, d: String): DataFrame =
    Dedup.ngramContainmentPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.4)
      .orderBy("id_a", "id_b")
  // q_containment_pairs: the q_ngram_jaccard counting construction with
  // the min-size denominator; size ties resolve contained_id to id_a
  row("q_containment_pairs", qContainmentPairs)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b,
        |       ROUND(CAST(i.n_inter AS DOUBLE) /
        |             CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE), 6) AS containment,
        |       CASE WHEN sa.n_sh <= sb.n_sh THEN i.id_a ELSE i.id_b END
        |         AS contained_id
        |FROM inter i
        |JOIN sizes sa ON i.id_a = sa.id
        |JOIN sizes sb ON i.id_b = sb.id
        |WHERE CAST(i.n_inter AS DOUBLE) /
        |      CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin)

  /** Per-label centroids and their pairwise cosine separability — the
    * "are my classes actually separated in embedding space?" report read
    * before training a classifier on labeled vectors. Centroid components
    * are per-(label, dim) averages over a posexplode (map-side
    * combinable, dim·labels output rows); the 45-pair cosine matrix is a
    * triangular join over the 10-row centroid table (metadata-sized).
    * Centroids are reassembled into arrays via a dim-sorted collect so
    * the dot product folds in one deterministic order.
    */
  private def qLabelCentroids(s: SparkSession, d: String): DataFrame = {
    val cent = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(avg(col("x").cast("double")).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("sm"))
      .select(col("label"), transform(col("sm"), e => e.getField("m")).as("c"))
    cent.as("a").join(cent.as("b"), col("a.label") < col("b.label"))
      .select(
        col("a.label").as("label_a"), col("b.label").as("label_b"),
        round(cosineSimilarity(col("a.c"), col("b.c")), 6).as("cos"))
      .orderBy("label_a", "label_b")
  }
  // q_label_centroids: dim-ordered centroid reassembly, then the same
  // sequential-fold dot; one round after the division
  row("q_label_centroids", qLabelCentroids)(
      """WITH x AS (
        |  SELECT label, i - 1 AS i, AVG(CAST(v AS DOUBLE)) AS m
        |  FROM (SELECT label, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)
        |  GROUP BY 1, 2),
        |c AS (SELECT label, array_agg(m ORDER BY i) AS c FROM x GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |       ROUND(CASE WHEN list_dot_product(a.c, a.c) = 0
        |                    OR list_dot_product(b.c, b.c) = 0 THEN 0.0
        |                  ELSE list_dot_product(a.c, b.c) /
        |                       (sqrt(list_dot_product(a.c, a.c)) *
        |                        sqrt(list_dot_product(b.c, b.c)))
        |             END, 6) AS cos
        |FROM c a JOIN c b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin)

  /** Hard-negative mining: for each label's centroid, the top-5 most
    * similar vectors carrying a DIFFERENT label — the contrastive-training
    * batch builder (and a mislabeling surfacing pass: a foreign vector
    * nearly on your centroid is either a hard negative or a wrong label).
    * The 10-row centroid table broadcasts against one corpus scan; per-row
    * dots are bit-identical across engines (same sequential fold), so the
    * top-5 rank needs no quantization. At 100 TB the scan side routes
    * through the IVF index ([[qIvfTopk]]) instead of a full pass.
    */
  private def qHardNegatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(avg(col("x").cast("double")).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("sm"))
      .select(col("label").as("c_label"),
        transform(col("sm"), e => e.getField("m")).as("c"))
    val w = Window.partitionBy("c_label")
      .orderBy(col("cos").desc, col("vec_id"))
    Tables.embeddings(s, d)
      .join(broadcast(cent), col("label") =!= col("c_label"))
      .select(col("c_label"), col("vec_id"),
        round(cosineSimilarity(toDoubleArray(col("embedding")), col("c")), 6)
          .as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("c_label").as("label"), col("vec_id"), col("cos"))
      .orderBy("label", "vec_id")
  }
  // q_hard_negatives: rank on the ROUNDED cosine with the vec_id
  // tiebreak, identically in both engines
  row("q_hard_negatives", qHardNegatives)(
      """WITH x AS (
        |  SELECT label, i - 1 AS i, AVG(CAST(v AS DOUBLE)) AS m
        |  FROM (SELECT label, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)
        |  GROUP BY 1, 2),
        |c AS (SELECT label AS c_label, array_agg(m ORDER BY i) AS c
        |      FROM x GROUP BY 1),
        |s AS (
        |  SELECT c.c_label, e.vec_id,
        |         ROUND(CASE WHEN list_dot_product(c.c, c.c) = 0 THEN 0.0
        |                    ELSE list_dot_product(
        |                           list_transform(e.embedding,
        |                                          v -> CAST(v AS DOUBLE)), c.c) /
        |                         (sqrt(list_dot_product(
        |                            list_transform(e.embedding,
        |                                           v -> CAST(v AS DOUBLE)),
        |                            list_transform(e.embedding,
        |                                           v -> CAST(v AS DOUBLE)))) *
        |                          sqrt(list_dot_product(c.c, c.c)))
        |               END, 6) AS cos
        |  FROM embeddings e JOIN c ON e.label <> c.c_label),
        |r AS (SELECT c_label, vec_id, cos,
        |             ROW_NUMBER() OVER (PARTITION BY c_label
        |                                ORDER BY cos DESC, vec_id) AS rn
        |      FROM s)
        |SELECT c_label AS label, vec_id, cos FROM r WHERE rn <= 5
        |ORDER BY label, vec_id""".stripMargin)

  /** The corpus (vec_id, label, v) projection and its portable 30% hash
    * sample of query vectors — shared by [[qKnnLabelNoise]]'s ANN
    * production path and the [[stagedKnnSuspects]] exact-audit builder.
    */
  private def knnFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), toDoubleArray(col("embedding")).as("v"))
    val q = e.filter(
      pmod(conv(substring(md5(concat(lit("knn|"), col("vec_id").cast("string"))),
        1, 12), 16, 10).cast("long"), lit(1000000L)) < 300000L)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"))
    (e, q)
  }

  /** Write-once staged EXACT k-NN suspect set — the quarantined
    * sample×corpus audit side of [[qKnnLabelNoise]], now staged under the
    * [[stagedDupPairs]] discipline (r10 verdict #6): the exact audit is a
    * pure function of the corpus directory and was the row's dominant
    * cost, so it is paid ONCE per corpus and every later run (bench,
    * verify, repeated sessions) reads the KB-scale (q_id, q_label)
    * parquet instead of re-scanning sample×corpus. The audit semantics
    * are unchanged — the staged set IS the exact answer the verdict
    * compares the index-served suspects against.
    */
  private def stagedKnnSuspects(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_knn/${dirTag(d)}/suspects3"
    stagedOnce(dir) {
      import org.apache.spark.sql.expressions.Window
      val (e, q) = knnFrames(s, d)
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      q.join(e, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
          cosineSimilarity(col("qv"), col("v")).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy("q_id", "q_label")
        .agg(sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("n_agree"))
        .filter(col("n_agree") === 0)
        .select(col("q_id"), col("q_label"))
        .repartition(1).write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(dir)
  }

  /** k-NN label-noise audit (confident-learning-lite): for a portable
    * 30% hash sample of vectors, find the 3 nearest neighbors; a vector
    * NONE of whose neighbors share its label is a suspected mislabel.
    * The PRODUCTION path runs against the persisted ANN index
    * ([[annIndex]] — the write-once `graft_ann_idx_*` table): each query
    * ranks the 16 broadcast centroids, probes its top-4 lists through a
    * list_id-keyed join (sample × corpus/4 candidate work, shrinking with
    * nlist at scale), and votes neighbor labels from the probed lists.
    * The exact sample×corpus side — the [[Similarity.sampledRecallAudit]]
    * quarantined-audit shape, bounded by the sample — is the write-once
    * [[stagedKnnSuspects]] artifact (paid once per corpus), read here as
    * the recall audit, and the row emits the exact suspects (per-pair
    * dots are bit-identical across engines, so the DuckDB oracle
    * reproduces them) plus `ann_ok`: the in-plan verdict that the
    * index-served suspect set covers the exact set at the measured floor
    * (suspect overlap 75/87/87% at sf0.001/0.01/0.1; floor 60%, the
    * probe-pruning trade on structureless embeddings).
    */
  private def qKnnLabelNoise(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val (idx, cents, _) = annIndex(s, d)
    val (e, q) = knnFrames(s, d)
    // ANN path: per-query probe lists from the broadcast centroid
    // metadata (16 rows), then candidates from the PERSISTED index
    val centDf = cents.toDF("list_id", "centroid")
    val pw = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("list_id"))
    val probes = q.crossJoin(broadcast(centDf))
      .select(col("q_id"), col("q_label"), col("qv"), col("list_id"),
        cosineSimilarity(col("qv"), col("centroid")).as("ccos"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= 4)
      .select(col("q_id"), col("q_label"), col("qv"), col("list_id"))
    val nw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("id"))
    val annSuspects = probes.join(idx.select(col("id"), col("v"), col("list_id")),
        "list_id")
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("id"),
        cosineSimilarity(col("qv"), col("v")).as("cos"))
      .withColumn("rn", row_number().over(nw))
      .filter(col("rn") <= 3)
      .join(e.select(col("vec_id").as("id"), col("label").as("n_label")), "id")
      .groupBy("q_id", "q_label")
      .agg(sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
        .as("n_agree"))
      .filter(col("n_agree") === 0)
      .select(col("q_id"))
    // exact audit side: the write-once staged suspect set (quarantined
    // sample×corpus scan, paid once per corpus — [[stagedKnnSuspects]])
    val exact = stagedKnnSuspects(s, d)
    val verdict = exact.select(col("q_id")).withColumn("in_ex", lit(1L))
      .join(annSuspects.withColumn("in_ann", lit(1L)), Seq("q_id"), "full_outer")
      .agg(
        sum(coalesce(col("in_ex"), lit(0L))).as("n_exact"),
        sum(when(col("in_ex").isNotNull && col("in_ann").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(
        (col("n_hit") * 10L >= col("n_exact") * 6L).as("ann_ok"),
        lit(1).as("one"))
    exact
      .withColumn("one", lit(1))
      .join(broadcast(verdict), "one")
      .select(col("q_id"), col("q_label"), col("ann_ok"))
      .orderBy("q_id")
  }
  // q_knn_label_noise: same portable 30% hash sample; neighbor rank on
  // raw dots (bit-identical sequential folds), vec_id tiebreak. The
  // ANN-index-served suspect set is engine-specific (seeded k-means),
  // so the oracle computes the exact side and asserts the recall floor
  // as literal TRUE (the annRecallVerdict discipline)
  row("q_knn_label_noise", qKnnLabelNoise)(
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e
        |      WHERE CAST(('0x' || substr(md5(concat('knn|',
        |                  CAST(vec_id AS VARCHAR))), 1, 12)) AS BIGINT)
        |            % 1000000 < 300000),
        |s AS (
        |  SELECT q.q_id, q.q_label, e.label, e.vec_id,
        |         CASE WHEN list_dot_product(q.qv, q.qv) = 0
        |                OR list_dot_product(e.v, e.v) = 0 THEN 0.0
        |              ELSE list_dot_product(q.qv, e.v) /
        |                   (sqrt(list_dot_product(q.qv, q.qv)) *
        |                    sqrt(list_dot_product(e.v, e.v)))
        |         END AS cos
        |  FROM q JOIN e ON e.vec_id <> q.q_id),
        |r AS (SELECT q_id, q_label, label,
        |             ROW_NUMBER() OVER (PARTITION BY q_id
        |                                ORDER BY cos DESC, vec_id) AS rn
        |      FROM s)
        |SELECT q_id, q_label, TRUE AS ann_ok FROM r WHERE rn <= 3
        |GROUP BY q_id, q_label
        |HAVING SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) = 0
        |ORDER BY q_id""".stripMargin)

  /** Hybrid retrieval via reciprocal-rank fusion: the BM25 ranking and a
    * vector-space (tf·idf cosine over the query terms) ranking for the
    * same 3-term query, fused as Σ 1/(60+rankᵢ) over the top-50 of each
    * system — the standard hybrid-search combiner, and deliberately
    * rank-based so the fusion is EXACT integer arithmetic even though the
    * two scoring functions are floats (both rankings order on scores
    * rounded to 6dp with a doc_id tiebreak, so the ranks themselves are
    * engine-independent). One corpus scan + the 1-row stats attach feed
    * BOTH scorers; the fusion join touches ≤100 candidate rows.
    */
  private def qHybridFusion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Seq("hash", "join", "merge")
    val withToks = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // tf via the native codegen'd equals loop — see [[qBm25]]
    val perDoc = withToks.select(
      col("doc_id") +: size(col("toks")).as("dl") +:
        terms.map(t =>
          NativeExpressions.array_count_eq(col("toks"), t).as(s"tf_$t")): _*)
    val statCols = count(lit(1)).as("n_docs") +: avg(col("dl")).as("avgdl") +:
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val bm25 = terms.map { t =>
      val tf = col(s"tf_$t"); val df = col(s"df_$t")
      log((col("n_docs") - df + 0.5) / (df + 0.5) + 1.0) *
        (tf * 2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    // vector-space side: query vector = idf per term, doc vector = tf·idf;
    // cosine restricted to the query's term subspace
    val idf = terms.map(t => log(col("n_docs") / (col(s"df_$t") + 1.0)))
    val dotQ = terms.zip(idf).map { case (t, w) => col(s"tf_$t") * w * w }
      .reduce(_ + _)
    val docNorm = sqrt(terms.zip(idf).map { case (t, w) =>
      col(s"tf_$t") * col(s"tf_$t") * w * w }.reduce(_ + _))
    val qNorm = sqrt(idf.map(w => w * w).reduce(_ + _))
    val cosv = when(docNorm === 0, lit(0.0))
      .otherwise(dotQ / (docNorm * qNorm))
    val scored = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(bm25, 6).as("s_bm25"), round(cosv, 6).as("s_vec"))
    // each ranking's top-50 is an orderBy.limit (TakeOrderedAndProject — a
    // per-partition heap + driver merge, never an Exchange SinglePartition
    // of every scored doc); ranks are then derived by a window over the
    // ≤50 SURVIVORS only. Identical result: limit keeps exactly the rows
    // with rank ≤ 50 under the same total order (rounded score, doc_id
    // tiebreak), and re-ranking a prefix of a total order preserves ranks.
    val wB = Window.orderBy(col("s_bm25").desc, col("doc_id"))
    val wV = Window.orderBy(col("s_vec").desc, col("doc_id"))
    val rB = scored.filter(col("s_bm25") > 0)
      .select(col("doc_id"), col("s_bm25"))
      .orderBy(col("s_bm25").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), row_number().over(wB).as("r_bm25"))
    val rV = scored.filter(col("s_vec") > 0)
      .select(col("doc_id"), col("s_vec"))
      .orderBy(col("s_vec").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), row_number().over(wV).as("r_vec"))
    rB.join(rV, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_bm25"), lit(0)).as("r_bm25"),
        coalesce(col("r_vec"), lit(0)).as("r_vec"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("r_bm25")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }
  // q_hybrid_fusion: both scores in the q_bm25 operand order, both
  // rankings on the ROUNDED score with doc_id tiebreak, RRF from the
  // integer ranks
  row("q_hybrid_fusion", qHybridFusion)(
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(text), '\s+'),
        |                     x -> len(x) > 0) AS toks
        |  FROM documents),
        |per_doc AS (
        |  SELECT doc_id, len(toks) AS dl,
        |         len(list_filter(toks, x -> x = 'hash'))  AS tf_hash,
        |         len(list_filter(toks, x -> x = 'join'))  AS tf_join,
        |         len(list_filter(toks, x -> x = 'merge')) AS tf_merge
        |  FROM tok),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
        |         SUM(CASE WHEN tf_hash  > 0 THEN 1 ELSE 0 END) AS df_hash,
        |         SUM(CASE WHEN tf_join  > 0 THEN 1 ELSE 0 END) AS df_join,
        |         SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
        |  FROM per_doc),
        |scored AS (
        |  SELECT doc_id,
        |    ROUND(
        |      ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
        |        * (tf_hash * CAST(2.2 AS DOUBLE))
        |        / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
        |        * (tf_join * CAST(2.2 AS DOUBLE))
        |        / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln((n_docs - df_merge + 0.5) / (df_merge + 0.5) + 1.0)
        |        * (tf_merge * CAST(2.2 AS DOUBLE))
        |        / (tf_merge + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS s_bm25,
        |    ROUND(
        |      CASE WHEN SQRT(tf_hash * tf_hash
        |                       * ln(n_docs / (df_hash + 1.0))
        |                       * ln(n_docs / (df_hash + 1.0))
        |                   + tf_join * tf_join
        |                       * ln(n_docs / (df_join + 1.0))
        |                       * ln(n_docs / (df_join + 1.0))
        |                   + tf_merge * tf_merge
        |                       * ln(n_docs / (df_merge + 1.0))
        |                       * ln(n_docs / (df_merge + 1.0))) = 0 THEN 0.0
        |           ELSE (tf_hash * ln(n_docs / (df_hash + 1.0))
        |                   * ln(n_docs / (df_hash + 1.0))
        |               + tf_join * ln(n_docs / (df_join + 1.0))
        |                   * ln(n_docs / (df_join + 1.0))
        |               + tf_merge * ln(n_docs / (df_merge + 1.0))
        |                   * ln(n_docs / (df_merge + 1.0)))
        |             / (SQRT(tf_hash * tf_hash
        |                       * ln(n_docs / (df_hash + 1.0))
        |                       * ln(n_docs / (df_hash + 1.0))
        |                   + tf_join * tf_join
        |                       * ln(n_docs / (df_join + 1.0))
        |                       * ln(n_docs / (df_join + 1.0))
        |                   + tf_merge * tf_merge
        |                       * ln(n_docs / (df_merge + 1.0))
        |                       * ln(n_docs / (df_merge + 1.0)))
        |                * SQRT(ln(n_docs / (df_hash + 1.0))
        |                         * ln(n_docs / (df_hash + 1.0))
        |                     + ln(n_docs / (df_join + 1.0))
        |                         * ln(n_docs / (df_join + 1.0))
        |                     + ln(n_docs / (df_merge + 1.0))
        |                         * ln(n_docs / (df_merge + 1.0))))
        |      END, 6) AS s_vec
        |  FROM per_doc, stats),
        |rb AS (SELECT doc_id, r_bm25 FROM (
        |         SELECT doc_id,
        |                ROW_NUMBER() OVER (ORDER BY s_bm25 DESC, doc_id)
        |                  AS r_bm25
        |         FROM scored WHERE s_bm25 > 0) WHERE r_bm25 <= 50),
        |rv AS (SELECT doc_id, r_vec FROM (
        |         SELECT doc_id,
        |                ROW_NUMBER() OVER (ORDER BY s_vec DESC, doc_id)
        |                  AS r_vec
        |         FROM scored WHERE s_vec > 0) WHERE r_vec <= 50)
        |SELECT doc_id,
        |       CAST(COALESCE(r_bm25, 0) AS INT) AS r_bm25,
        |       CAST(COALESCE(r_vec, 0) AS INT) AS r_vec,
        |       ROUND(COALESCE(1.0 / (60 + r_bm25), 0.0) +
        |             COALESCE(1.0 / (60 + r_vec), 0.0), 6) AS rrf
        |FROM rb FULL OUTER JOIN rv USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)

  /** Per-label centroid outliers: the 5 vectors FARTHEST (lowest cosine)
    * from their own label's centroid — the "probably mislabeled or
    * genuinely hard" review queue next to [[qKnnLabelNoise]]'s
    * neighbor-vote audit. Same centroid recipe as [[qLabelCentroids]];
    * the rank orders on the ROUNDED cosine with a vec_id tiebreak, so
    * both engines pick identical rows.
    */
  private def qCentroidOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(avg(col("x").cast("double")).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("sm"))
      .select(col("label"), transform(col("sm"), e => e.getField("m")).as("c"))
    val w = Window.partitionBy("label").orderBy(col("cos"), col("vec_id"))
    Tables.embeddings(s, d)
      .join(broadcast(cent), "label")
      .select(col("label"), col("vec_id"),
        round(cosineSimilarity(toDoubleArray(col("embedding")), col("c")), 6)
          .as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("label"), col("vec_id"), col("cos"))
      .orderBy("label", "vec_id")
  }
  // q_centroid_outliers: the q_label_centroids centroid CTE; rank on
  // the rounded own-centroid cosine ascending, vec_id tiebreak
  row("q_centroid_outliers", qCentroidOutliers)(
      """WITH x AS (
        |  SELECT label, i - 1 AS i, AVG(CAST(v AS DOUBLE)) AS m
        |  FROM (SELECT label, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)
        |  GROUP BY 1, 2),
        |c AS (SELECT label, array_agg(m ORDER BY i) AS c FROM x GROUP BY 1),
        |s AS (
        |  SELECT e.label, e.vec_id,
        |         ROUND(CASE WHEN list_dot_product(c.c, c.c) = 0 THEN 0.0
        |                    ELSE list_dot_product(
        |                           list_transform(e.embedding,
        |                                          v -> CAST(v AS DOUBLE)), c.c) /
        |                         (sqrt(list_dot_product(
        |                            list_transform(e.embedding,
        |                                           v -> CAST(v AS DOUBLE)),
        |                            list_transform(e.embedding,
        |                                           v -> CAST(v AS DOUBLE)))) *
        |                          sqrt(list_dot_product(c.c, c.c)))
        |               END, 6) AS cos
        |  FROM embeddings e JOIN c USING (label)),
        |r AS (SELECT label, vec_id, cos,
        |             ROW_NUMBER() OVER (PARTITION BY label
        |                                ORDER BY cos, vec_id) AS rn
        |      FROM s)
        |SELECT label, vec_id, cos FROM r WHERE rn <= 5
        |ORDER BY label, vec_id""".stripMargin)

  /** Embedding-column quality gate: the audit an ANN/training ingest runs
    * before touching vectors — wrong-dimension rows, non-finite
    * coordinates, zero-norm vectors (all of which poison cosine math and
    * k-means), plus the norm envelope. One narrow scan, one row out; at
    * 100 TB this is a map-side-combined aggregate over the vector column
    * only. The expected result is all-zero counts — the row's value IS
    * the standing zero, and a poisoned drop hash-mismatches the oracle.
    */
  private def qVectorAudit(s: SparkSession, d: String): DataFrame = {
    val v = toDoubleArray(col("embedding"))
    val nonFinite = size(filter(v, x => x.isNaN || x === Double.PositiveInfinity ||
      x === Double.NegativeInfinity))
    Tables.embeddings(s, d)
      .select(
        size(col("embedding")).as("dim"),
        nonFinite.as("n_bad"),
        NativeExpressions.vec_dot(v, v).as("sq"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("dim") =!= 64, 1L).otherwise(0L)).as("n_wrong_dim"),
        sum(when(col("n_bad") > 0, 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(col("sq") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        round(sqrt(min(col("sq"))), 6).as("min_norm"),
        round(sqrt(max(col("sq"))), 6).as("max_norm"))
  }
  // q_vector_audit: same finite/zero-norm/dim predicates over the raw
  // float coords cast to double; norms via the identical sequential dot
  row("q_vector_audit", qVectorAudit)(
      """WITH x AS (
        |  SELECT len(embedding) AS dim,
        |         len(list_filter(embedding,
        |             x -> isnan(CAST(x AS DOUBLE))
        |                  OR NOT isfinite(CAST(x AS DOUBLE)))) AS n_bad,
        |         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))
        |           AS sq
        |  FROM embeddings)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |       CAST(SUM(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_wrong_dim,
        |       CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_nonfinite,
        |       CAST(SUM(CASE WHEN sq = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero_norm,
        |       ROUND(SQRT(MIN(sq)), 6) AS min_norm,
        |       ROUND(SQRT(MAX(sq)), 6) AS max_norm
        |FROM x""".stripMargin)

  /** Dedup-impact report: per source, how many documents and characters
    * exact dedup (min-doc_id survivorship over the md5 fingerprint, the
    * [[graft.ext.Dedup.exact]] rule) would remove — the "what does dedup
    * buy us" table in every corpus release note, and the number that
    * justifies the pipeline stage. Compact shapes only: the fingerprint
    * group-by shuffles (fp, id) pairs, the survivor set anti-joins back
    * on doc_id, and both rollups land on the source domain.
    */
  private def qDedupSavings(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    val survivors = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val dropped = docs.join(survivors, Seq("doc_id"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_dupes"), sum(col("n_chars")).as("dup_chars"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .join(dropped, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dupes"), lit(0L)).as("n_dupes"),
        col("total_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .orderBy("source")
  }
  // q_dedup_savings: same md5 fingerprint + min-id survivorship rule
  row("q_dedup_savings", qDedupSavings)(
      """WITH surv AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |drp AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dupes,
        |         CAST(SUM(n_chars) AS BIGINT) AS dup_chars
        |  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM surv)
        |  GROUP BY source)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       COALESCE(MAX(drp.n_dupes), 0) AS n_dupes,
        |       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
        |       COALESCE(MAX(drp.dup_chars), 0) AS dup_chars
        |FROM documents d LEFT JOIN drp ON d.source = drp.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin)

  private def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")
      .select(col("text"), col("keep_id"), col("n_copies"))
      .orderBy("keep_id")
  row("q_dedup_exact", qDedupExact)(
      """SELECT text, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)

  private def qDedupNormalized(s: SparkSession, d: String): DataFrame =
    Dedup.normalized(Tables.documents(s, d), "doc_id", "text")
      .orderBy("keep_id")
  row("q_dedup_normalized", qDedupNormalized)(
      """SELECT trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N} ]', '', 'g'),
        |                           ' +', ' ', 'g')) AS norm_text,
        |       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin)

  /** Verdict-row wrapper for approximate PAIR families — the pair-set
    * counterpart of [[annRecallVerdict]]: the output rows are the EXACT
    * pair set at the threshold (engine-portable, so the DuckDB oracle
    * recomputes them from the raw tables) plus one in-plan verdict column
    * asserting the approximate family's guarantee — every approximate pair
    * is in the exact set (the families verify the exact measure on every
    * candidate, so precision is 1.0 by construction) AND recall clears
    * `floor`. The oracle emits the verdict as literal TRUE: an LSH recall
    * collapse hash-mismatches the row. The verdict is a full-outer join of
    * two compact (id_a, id_b) sets followed by one scalar aggregate and a
    * 1-row broadcast re-attach — no shuffle beyond the two pair pipelines
    * themselves. (Reference analog: differential-oracle discipline,
    * `host/join/join_test.cc:27-38`.)
    */
  private def pairRecallVerdict(
      exact: DataFrame,
      approx: DataFrame,
      floor: Double,
      verdictName: String): DataFrame = {
    // Both pair pipelines are non-trivial, so the full-outer join of the
    // two (id_a, id_b) sets is evaluated exactly ONCE: a LAZY local
    // checkpoint materializes it at first use, the hit/miss/extra counts
    // come out of ONE scalar aggregate over it (map-side partial — no row
    // movement beyond the 1-per-partition partials), and the 1-row count
    // is broadcast back onto the surviving exact rows. Pair sets grow
    // linearly with the corpus (a web-scale corpus at 30-50% dup rate has
    // billions of pairs), so nothing here may funnel them through one
    // task. persist, NOT localCheckpoint: a checkpoint replaces the plan
    // with an opaque LogicalRDD, hiding the staged-artifact scans from
    // the catalog plan audits; the persist entries are bounded by the
    // same LRU eviction discipline as [[takeIndexMemo]] (ADVICE r11:
    // CacheManager deduping alone still accumulates one entry per
    // family×directory for the session lifetime, and pair sets grow with
    // the corpus, so a long mixed-corpus session would pin growing cache
    // state — evicted entries unpersist and simply recompute); the one
    // hazard a persisted staged input carries — rebuilt at the same path
    // mid-session serving the stale cached relation — is already excluded
    // by the regeneration contract ([[dirTag]]: in-place data
    // regeneration requires fresh sessions).
    val joinedPlan = exact
      .withColumn("in_ex", lit(1L))
      .join(approx.select(col("id_a"), col("id_b")).withColumn("in_ap", lit(1L)),
        Seq("id_a", "id_b"), "full_outer")
    val joined = pairVerdictMemo.synchronized {
      pairVerdictMemo.computeIfAbsent(
        s"${System.identityHashCode(exact.sparkSession)}:" +
          joinedPlan.queryExecution.analyzed.semanticHash(),
        _ => joinedPlan.persist())
    }
    val counts = joined
      .agg(
        coalesce(sum(col("in_ex")), lit(0L)).as("__n_exact"),
        coalesce(sum(when(col("in_ex").isNotNull && col("in_ap").isNotNull,
          lit(1L))), lit(0L)).as("__n_hit"),
        coalesce(sum(when(col("in_ex").isNull, lit(1L))), lit(0L))
          .as("__n_extra"))
      .withColumn("one", lit(1))
    joined
      .filter(col("in_ex").isNotNull)
      .withColumn("one", lit(1))
      .join(broadcast(counts), "one")
      .withColumn(verdictName,
        col("__n_extra") === 0L &&
          col("__n_hit").cast("double") >= lit(floor) * col("__n_exact").cast("double"))
      .drop("one", "in_ex", "in_ap", "__n_exact", "__n_hit", "__n_extra")
      .orderBy("id_a", "id_b")
  }

  /** Write-once staged compact (id, signature) projections — the
    * pay-at-write discipline the [[graft.ext.Dedup]] scale note promises
    * (and [[stagedDupPairs]]/[[annIndex]] already follow): signatures are
    * derived from full text ONCE per corpus directory and every consumer
    * reads the KB-per-row parquet instead of re-running the text pass.
    * `minhash64`: (id, 64-long minhash signature of char-5 shingles) —
    * consumed three times per [[qMinhashPairs]] run (banding + both
    * plausibility-attach sides). `tfvec256`: (id, 256-dim md5 hashing-TF
    * bigram vector) — [[qDocEmbedPairs]] consumes it five times (brute
    * exact side + LSH side, each with attaches). Single-file coalesce is
    * an oracle-scale convenience; a production artifact stays partitioned.
    */
  // repartition(1), NOT coalesce(1): these derivation plans are
  // shuffle-free, so a coalesce would propagate up and run the corpus-wide
  // text→signature pass on ONE task — repartition keeps the map side
  // parallel and only the tiny single-file write serializes
  private def stagedMinhashSigs(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_sigs/${dirTag(d)}/minhash64"
    stagedOnce(dir) {
      Tables.documents(s, d)
        .select(col("doc_id").as("id"),
          minhashSignature(charShingles(col("text"), 5), 64).as("sig"))
        .repartition(1).write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(dir)
  }

  private def stagedTfVecs(s: SparkSession, d: String): DataFrame = {
    val dir = s"/tmp/graft_sigs/${dirTag(d)}/tfvec256"
    stagedOnce(dir) {
      Similarity.portableTfVecs(
          Tables.documents(s, d), "doc_id", "text", dims = 256, ngram = 2)
        .repartition(1).write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(dir)
  }

  /** MinHash+LSH near-dup pairs wrapped in the pair-set exactness audit
    * ([[pairRecallVerdict]]): output = the EXACT char-5-shingle Jaccard
    * pairs at 0.8 ([[graft.ext.Dedup.charJaccardPairs]] — size-ratio-banded,
    * DuckDB-expressible) + `mh_ok`, asserting the banded minhash retrieved
    * the full planted-near-dup pair set (banding 8×8 → recall ≥ 0.999 at
    * the corpus's ~0.93 Jaccard dups; measured recall 1.0 at every test SF,
    * floor 0.9 leaves margin for an unlucky seedless corpus). The LSH side
    * reads its signatures from the [[stagedMinhashSigs]] write-once
    * artifact; shingles (corpus-sized) stay derived-on-demand for the
    * exact verify of the few candidates. The exact audit side is the
    * write-once [[stagedExactPairs]] artifact (paid once per corpus).
    */
  private def qMinhashPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    pairRecallVerdict(
      stagedExactPairs(s, d, "charjac08")(
        Dedup.charJaccardPairs(docs, "doc_id", "text", k = 5, threshold = 0.8)),
      Dedup.minhashPairsFromSigs(
        docs.select(col("doc_id").as("id"),
          charShingles(col("text"), 5).as("shingles")),
        stagedMinhashSigs(s, d),
        numHashes = 64, bands = 8, threshold = 0.8),
      floor = 0.9,
      verdictName = "mh_ok")
  }
  // q_minhash_pairs: exact char-5-shingle Jaccard pairs at 0.8. The
  // size-ratio prefilter (J >= 0.8 implies max-size <= 1.25*min-size) is
  // a mathematically lossless candidate bound, so the IEJoin-band here
  // and the log-bucket band on the Spark side produce the SAME final
  // pair set; list semantics mirror charShingles (distinct k-grams of
  // lower(trim(text)), short text -> the text itself as one shingle)
  row("q_minhash_pairs", qMinhashPairs, Anchor, Headline, Scaling)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(s) < 5 THEN [s]
        |              ELSE list_distinct([substr(s, i, 5)
        |                                  for i in generate_series(1, len(s) - 4)])
        |         END AS g
        |  FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)),
        |sz AS (SELECT id, g, len(g) AS n FROM sh),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |         len(list_intersect(a.g, b.g)) AS ni, a.n + b.n AS ns
        |  FROM sz a JOIN sz b
        |    ON a.id < b.id
        |   AND a.n <= b.n * 1.25 AND b.n <= a.n * 1.25)
        |SELECT id_a, id_b,
        |       ROUND(CAST(ni AS DOUBLE) / (ns - ni), 6) AS jaccard,
        |       TRUE AS mh_ok
        |FROM cand WHERE CAST(ni AS DOUBLE) / (ns - ni) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin)

  /** SimHash near-dup pairs on the ENGINE-PORTABLE 60-bit md5-prefix
    * signature ([[graft.ext.Dedup.portableSimhashSigs]]): chunks = 4 makes
    * candidate recall COMPLETE for hamming < 4 (pigeonhole), so
    * maxHamming = 3 yields the EXACT pair set — which the DuckDB oracle
    * reproduces by brute-force quadratic hamming over independently
    * recomputed signatures, making this a FULLY-oracled row (stronger than
    * a recall-floor verdict: every pair, both ids and the hamming value,
    * is hash-compared). Conditional on no chunk bucket exceeding maxBucket
    * (true at every test SF; `Dedup.bucketStats` audits). The library's
    * production path stays [[graft.ext.Dedup.simhashPairs]] (native seeded
    * xxhash, codegen'd); the portable signature exists so the bucketing
    * pipeline is differentially testable end to end.
    */
  private def qSimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairsFromSigs(
        Dedup.portableSimhashSigs(Tables.documents(s, d), "doc_id", "text"),
        totalBits = 60, maxHamming = 3, chunks = 4)
      .orderBy("id_a", "id_b")
  // q_simhash_pairs: FULL differential oracle — the portable 60-bit
  // md5-prefix signature is recomputed independently and the exact
  // hamming<=3 pair set compared row-for-row (the engine's chunk-bucketed
  // candidates are pigeonhole-complete for hamming < 4, so the sets must
  // be identical)
  row("q_simhash_pairs", qSimhashPairs)(
      """WITH tok AS (
        |  SELECT doc_id AS id,
        |         unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                            x -> len(x) > 0)) AS t
        |  FROM documents),
        |th AS (SELECT id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |bits AS (
        |  SELECT id, g.b AS b,
        |         SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, generate_series(0, 59) g(b)
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT id,
        |         SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b)
        |                  ELSE CAST(0 AS BIGINT) END) AS sig
        |  FROM bits GROUP BY 1)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.id < b.id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin)

  private def qNgramJaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.03)
      .orderBy("id_a", "id_b")
  row("q_ngram_jaccard", qNgramJaccardPairs)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b,
        |       ROUND(CAST(i.n_inter AS DOUBLE) /
        |             CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 6) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON i.id_a = sa.id
        |JOIN sizes sb ON i.id_b = sb.id
        |WHERE CAST(i.n_inter AS DOUBLE) /
        |      CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.03
        |ORDER BY id_a, id_b""".stripMargin)

  /** Incremental-ingest dedup: the simulated daily batch (every 10th doc)
    * checked against the standing corpus — only (new, old) pairs, never
    * corpus×corpus ([[Dedup.ngramJaccardAcross]]). The per-ingest cost at
    * scale is |batch|-driven candidate generation against the shared
    * inverted index, not a rescan of the corpus pair space.
    */
  private def qIncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.ngramJaccardAcross(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", n = 3, threshold = 0.03)
      .orderBy("id_new", "id_old")
  }
  // q_incremental_dedup: the q_ngram_jaccard gram builder with a side
  // flag; shared-gram df ceiling over the UNION, only (new, old) pairs
  row("q_incremental_dedup", qIncrementalDedup)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS side,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, side, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, side, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, side, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_new, b.id AS id_old, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.side = 1 AND b.side = 0 GROUP BY 1, 2)
        |SELECT i.id_new, i.id_old,
        |       ROUND(CAST(i.n_inter AS DOUBLE) /
        |             CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 6) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON i.id_new = sa.id AND sa.side = 1
        |JOIN sizes sb ON i.id_old = sb.id AND sb.side = 0
        |WHERE CAST(i.n_inter AS DOUBLE) /
        |      CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.03
        |ORDER BY id_new, id_old""".stripMargin)

  /** Train/test CONTAMINATION check — the release gate every training
    * pipeline runs: near-dup document pairs whose members land in
    * DIFFERENT splits of the held-out assignment. Composes two oracled
    * pieces — exact n-gram Jaccard pairs and the engine-portable md5
    * split — so the whole pipeline query is DuckDB-checkable end to end.
    * The split attach is a compact (id, split) projection joined onto the
    * (small) verified pair set, so the composition adds no quadratic work.
    */
  private def qContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.03)
    val splits = Sampling
      .assignSplitsPortable(docs, "doc_id", valFraction = 0.1, testFraction = 0.1)
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "jaccard", "split_a", "split_b")
      .orderBy("id_a", "id_b")
  }
  // q_contamination: the q_ngram_jaccard pipeline with the portable md5
  // split attached; only cross-split pairs survive
  row("q_contamination", qContamination)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2),
        |splits AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN h < 100000 THEN 'val'
        |              WHEN h < 200000 THEN 'test'
        |              ELSE 'train' END AS split
        |  FROM (SELECT doc_id,
        |               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |                    AS BIGINT) % 1000000 AS h
        |        FROM documents))
        |SELECT i.id_a, i.id_b,
        |       ROUND(CAST(i.n_inter AS DOUBLE) /
        |             CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 6) AS jaccard,
        |       pa.split AS split_a, pb.split AS split_b
        |FROM inter i
        |JOIN sizes sa ON i.id_a = sa.id
        |JOIN sizes sb ON i.id_b = sb.id
        |JOIN splits pa ON i.id_a = pa.id
        |JOIN splits pb ON i.id_b = pb.id
        |WHERE CAST(i.n_inter AS DOUBLE) /
        |      CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.03
        |  AND pa.split <> pb.split
        |ORDER BY id_a, id_b""".stripMargin)

  /** END-TO-END training-corpus pipeline — the five stages a pretraining
    * data build runs, composed as ONE declarative plan so Catalyst sees
    * (and the oracle checks) the whole dataflow: normalize→dedup (survivor
    * = min id per normalized text), quality gate (integer-form predicates —
    * `2·alpha_len >= len` and a token floor — so the comparisons are exact
    * in every engine), contamination-safe split (portable md5 splits; any
    * near-dup pair [[graft.ext.Dedup.ngramJaccardPairs]] that straddles
    * splits drops its non-train member, ties drop the larger id),
    * mix-sample to target source weights ([[graft.ext.Sampling.sampleToMix]]),
    * and sequence packing ([[graft.ext.TextAnalysis.packSequences]]).
    * Every stage is individually oracled elsewhere
    * (q_dedup_normalized/q_split_counts/q_ngram_jaccard/q_contamination/
    * q_sample_mix/q_pack_sequences); this row pins their COMPOSITION.
    * Output: one row per packed document (source, id, n_tokens, bin).
    */
  private def qCorpusPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val survivors = docs.join(
      Dedup.normalized(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val qual = survivors.filter(
      length(regexp_replace(col("text"), "[^A-Za-z]", "")) * 2 >= length(col("text")) &&
        size(tokens(col("text"))) >= 10)
    val split = Sampling.assignSplitsPortable(qual, "doc_id",
      valFraction = 0.1, testFraction = 0.1)
    val sp = split.select(col("doc_id"), col("split"))
    val drops = Dedup.ngramJaccardPairs(qual, "doc_id", "text", n = 3, threshold = 0.03)
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(
        when(col("split_a") === "train", col("id_b"))
          .when(col("split_b") === "train", col("id_a"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    val clean = split.join(drops, Seq("doc_id"), "left_anti")
    val target = (0 until 20)
      .map(i => s"src$i" -> (if (i < 10) 1.0 else 3.0)).toMap
    val mixed = Sampling.sampleToMix(clean, "doc_id", "source", target)
    TextAnalysis.packSequences(mixed, "source", "doc_id", "text", capacity = 512)
      .select(col("grp").as("source"), col("id"), col("n_tokens"), col("bin"))
      .orderBy("source", "id")
  }
  // q_corpus_pipeline: the five oracled stage recipes composed verbatim —
  // normalized-dedup survivors -> integer-form quality gate -> portable
  // split + cross-split near-dup drop -> mix-sample -> pack
  row("q_corpus_pipeline", qCorpusPipeline, Headline, Scaling)(
      """WITH surv AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |           MIN(doc_id) OVER (PARTITION BY
        |             trim(regexp_replace(regexp_replace(lower(text),
        |                  '[^\p{L}\p{N} ]', '', 'g'), ' +', ' ', 'g'))) AS keep
        |    FROM documents)
        |  WHERE doc_id = keep),
        |qual AS (
        |  SELECT doc_id, source, text,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> len(x) > 0) AS tl
        |  FROM surv
        |  WHERE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 2
        |          >= length(text)
        |    AND len(list_filter(string_split_regex(trim(text), '\s+'),
        |                        x -> len(x) > 0)) >= 10),
        |spl AS (
        |  SELECT doc_id, source, text,
        |         CASE WHEN h < 100000 THEN 'val'
        |              WHEN h < 200000 THEN 'test'
        |              ELSE 'train' END AS split
        |  FROM (SELECT doc_id, source, text,
        |               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |                    AS BIGINT) % 1000000 AS h
        |        FROM qual)),
        |sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(tl) < 3 THEN [array_to_string(tl, ' ')]
        |              ELSE list_distinct([concat_ws(' ', tl[i], tl[i+1], tl[i+2])
        |                                  for i in generate_series(1, len(tl) - 2)])
        |         END AS g
        |  FROM qual),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS ni
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON id_a = sa.id
        |  JOIN sizes sb ON id_b = sb.id
        |  WHERE CAST(ni AS DOUBLE) /
        |        CAST(sa.n_sh + sb.n_sh - ni AS DOUBLE) >= 0.03),
        |drops AS (
        |  SELECT DISTINCT CASE WHEN pa.split = 'train' THEN p.id_b
        |                       WHEN pb.split = 'train' THEN p.id_a
        |                       ELSE greatest(p.id_a, p.id_b) END AS drop_id
        |  FROM pairs p
        |  JOIN spl pa ON p.id_a = pa.doc_id
        |  JOIN spl pb ON p.id_b = pb.doc_id
        |  WHERE pa.split <> pb.split),
        |clean AS (
        |  SELECT * FROM spl
        |  WHERE doc_id NOT IN (SELECT drop_id FROM drops)),
        |mixr AS (
        |  SELECT c.doc_id, c.source, c.text,
        |         CASE WHEN CAST(substr(c.source, 4) AS INT) < 10
        |              THEN CAST(1.0 AS DOUBLE) ELSE CAST(3.0 AS DOUBLE) END AS tw,
        |         CAST(('0x' || substr(md5('mix|' || CAST(c.doc_id AS VARCHAR)), 1, 12))
        |              AS BIGINT) % 1000000 AS mh,
        |         COUNT(*) OVER (PARTITION BY c.source) AS n_src
        |  FROM clean c),
        |mixed AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT *, MIN(CAST(n_src AS DOUBLE) / tw) OVER () AS feas FROM mixr)
        |  WHERE CAST(mh AS DOUBLE) < tw * feas / CAST(n_src AS DOUBLE) * 1000000),
        |toks AS (
        |  SELECT source, doc_id AS id,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM mixed),
        |packed AS (
        |  SELECT source, id, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM toks)
        |SELECT source, id, n_tokens,
        |       CAST(FLOOR((cum - n_tokens) / 512) AS BIGINT) AS bin
        |FROM packed ORDER BY source, id""".stripMargin)

  private def queryVector(s: SparkSession, d: String): Seq[Double] =
    Tables.embeddings(s, d)
      .filter(col("vec_id") === 0)
      .select(toDoubleArray(col("embedding")).as("v"))
      .head()
      .getSeq[Double](0)

  private def qEmbedTopK(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(
      Tables.embeddings(s, d), "vec_id", "embedding", queryVector(s, d), 20)
  // zero-norm guard mirrors the Spark side: 0/0 is NaN, and DuckDB (like
  // Spark) orders NaN above every value — an unguarded oracle would rank
  // a zero vector first / pair it with the whole corpus while the engine
  // correctly emits cos = 0
  row("q_embed_topk", qEmbedTopK)(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |     q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       CASE WHEN list_dot_product(e.v, e.v) = 0
        |              OR list_dot_product(q.qv, q.qv) = 0 THEN 0.0
        |            ELSE ROUND(list_dot_product(e.v, q.qv) /
        |                       (sqrt(list_dot_product(e.v, e.v)) *
        |                        sqrt(list_dot_product(q.qv, q.qv))), 6)
        |       END AS cos
        |FROM e, q ORDER BY cos DESC, id LIMIT 20""".stripMargin)

  /** Wrap an ANN top-k result in exactness-audit verdict rows: the output
    * is the EXACT cosine top-20 (rank, id, cos — the embeddings are
    * unit-norm, so cosine and L2 rankings coincide and one exact side
    * serves every ANN family) plus `ann_ok`, an in-plan verdict that the
    * ANN candidate set overlaps the true top-20 at `floor` or better AND
    * retrieved the query vector itself. The ANN ids are engine-specific
    * (seeded hyperplanes / k-means / PQ codebooks no portable SQL engine
    * reproduces), so the DuckDB oracle computes the exact side — already
    * proven portable by q_embed_topk — and asserts the recall guarantee as
    * literal TRUE: an index whose recall decays below its floor
    * hash-mismatches the row. The exact side is the AUDIT, not the
    * production path (at 100 TB the ANN probe runs alone; the audit is
    * the q_embed_topk-shaped linear scan, run here beside it — the same
    * sampled-exactness discipline as [[Similarity.sampledRecallAudit]]).
    * All verdict windows run over the 20 exact rows post-TopK, so the
    * audit adds one TakeOrderedAndProject scan and a 20-row broadcast
    * join, never a shuffle.
    */
  private def annRecallVerdict(
      s: SparkSession,
      d: String,
      ann: DataFrame,
      floor: Int,
      reference: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = Similarity.bruteForceTopK(
      Tables.embeddings(s, d), "vec_id", "embedding", queryVector(s, d), 20)
    val annIds = ann.select(col(ann.columns.head).as("id"))
    // the recall reference defaults to the exact top-20; the composed
    // IVF+PQ family audits against the full PQ scan instead (isolating
    // probe-pruning loss — quantization loss is q_pq_topk's verdict)
    val refIds = reference
      .map(r => r.select(col(r.columns.head).as("id")))
      .getOrElse(exact.select(col("id")))
    // scalar verdict over the k ANN rows: overlap with the reference set
    // clears the floor AND the query vector itself was retrieved
    val verdict = annIds
      .withColumn("is_self", when(col("id") === 0, 1L).otherwise(0L))
      .join(refIds.withColumn("in_ref", lit(1L)), Seq("id"), "left")
      .agg(
        sum(coalesce(col("in_ref"), lit(0L))).as("n_hits"),
        max(col("is_self")).as("self_hit"))
      .select(
        (col("n_hits") >= floor && col("self_hit") === 1L).as("ann_ok"),
        lit(1).as("one"))
    exact
      .withColumn("rnk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("cos").desc, col("id"))))
      .withColumn("one", lit(1))
      .join(broadcast(verdict), "one")
      .select(
        col("rnk").cast("long").as("rnk"),
        col("id"), col("cos"), col("ann_ok"))
      .orderBy("rnk")
  }

  /** LSH top-k wrapped in the exactness audit ([[annRecallVerdict]]):
    * measured overlap 6/20 (sf0.001) and 8/20 (sf0.01), floor 5 — the
    * recall trade of 4-bit signature chunks over deliberately
    * structureless embeddings, deterministic because the hyperplanes are
    * seeded.
    */
  private def qEmbedLshTopK(s: SparkSession, d: String): DataFrame =
    annRecallVerdict(s, d,
      Similarity.lshTopK(
        Tables.embeddings(s, d), "vec_id", "embedding", queryVector(s, d), 20),
      floor = 5)
  // ANN verdict rows: each approximate-top-k row emits the EXACT cosine
  // top-20 (rank, id, cos) plus an in-plan recall verdict — the ANN ids
  // themselves are seeded-hash/k-means artifacts no portable engine
  // reproduces, so the oracle computes the exact side and asserts the
  // recall guarantee as literal TRUE
  row("q_embed_lsh_topk", qEmbedLshTopK)(annVerdictOracleSql)

  /** Embedding-LSH pairs wrapped in the pair-set exactness audit
    * ([[pairRecallVerdict]]): output = the exact cosine pairs at 0.3 (the
    * q_cosine_pairs side, already DuckDB-proven) + `lsh_ok`. planes=16/
    * chunks=4 → 4-bit buckets: ~6% of random pairs per chunk become
    * candidates (vs 25% with 2-bit buckets, which grows quadratic bucket
    * joins at scale). Recall at cos≥0.3 is ~0.4 by design over these
    * deliberately structureless embeddings (measured 0.40–0.44 across the
    * test SFs) — floor 0.25 asserts the bucketing stays functional without
    * pinning the trade.
    */
  private def qEmbedPairs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    pairRecallVerdict(
      stagedExactPairs(s, d, "cos03")(
        Similarity.bruteForcePairs(emb, "vec_id", "embedding", threshold = 0.3)),
      Dedup.embeddingPairs(emb, "vec_id", "embedding",
        threshold = 0.3, planes = 16, chunks = 4),
      floor = 0.25,
      verdictName = "lsh_ok")
  }
  // pair-family verdict rows (the pair-set counterpart of the ANN
  // verdict rows): the oracle recomputes the EXACT pair set from the raw
  // tables and asserts each family's recall guarantee as literal TRUE —
  // the q_cosine_pairs quadratic with the lsh_ok verdict appended
  row("q_embed_pairs", qEmbedPairs)(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |c AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         CASE WHEN list_dot_product(a.v, a.v) = 0
        |                OR list_dot_product(b.v, b.v) = 0 THEN 0.0
        |              ELSE list_dot_product(a.v, b.v) /
        |                   (sqrt(list_dot_product(a.v, a.v)) *
        |                    sqrt(list_dot_product(b.v, b.v)))
        |         END AS cos_raw
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(cos_raw, 6) AS cos, TRUE AS lsh_ok
        |FROM c WHERE cos_raw >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)

  /** Exact quadratic pair scan — the recall oracle for [[qEmbedPairs]];
    * oracled in SQL, unlike the LSH variants.
    */
  private def qCosinePairs(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForcePairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.3)
      .orderBy("id_a", "id_b")
  row("q_cosine_pairs", qCosinePairs)(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |c AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         CASE WHEN list_dot_product(a.v, a.v) = 0
        |                OR list_dot_product(b.v, b.v) = 0 THEN 0.0
        |              ELSE list_dot_product(a.v, b.v) /
        |                   (sqrt(list_dot_product(a.v, a.v)) *
        |                    sqrt(list_dot_product(b.v, b.v)))
        |         END AS cos_raw
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(cos_raw, 6) AS cos
        |FROM c WHERE cos_raw >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)

  /** End-to-end text→embedding→near-dup pipeline wrapped in the pair-set
    * exactness audit ([[pairRecallVerdict]]): ENGINE-PORTABLE md5 hashing-TF
    * bigram vectors ([[graft.ext.Similarity.portableTfPosting]], the
    * portable twin of [[graft.ext.TextAnalysis.hashingTfEmbedding]],
    * densified once), then (a) the exact cosine pair set at 0.8 — integer-
    * valued weights make every dot and norm an exact cross-engine sum, so
    * the DuckDB oracle reproduces the rows bit-for-bit from its SPARSE
    * posting formulation (the [[graft.ext.Similarity.sparseCosinePairs]]
    * shape; `OperatorPropertySpec` pins sparse ≡ dense) — and (b) the same
    * vectors through the production LSH pair finder, asserted by the
    * `lsh_ok` recall verdict (measured recall ≥ 0.97 at every test SF on
    * the planted dups; floor 0.8).
    */
  private def qDocEmbedPairs(s: SparkSession, d: String): DataFrame = {
    // write-once staged (id, vec) projection — both pair pipelines (and
    // their attach sides) read the compact artifact instead of re-running
    // the text→hashing-TF pass per consumer
    val vecs = stagedTfVecs(s, d)
    pairRecallVerdict(
      stagedExactPairs(s, d, "tfcos08")(
        Similarity.bruteForcePairs(vecs, "id", "vec", threshold = 0.8)),
      Dedup.embeddingPairs(vecs, "id", "vec",
        threshold = 0.8, planes = 32, chunks = 4),
      floor = 0.8,
      verdictName = "lsh_ok")
  }
  // q_doc_embed_pairs: exact sparse-cosine pairs over the portable md5
  // hashing-TF bigram posting — integer-valued weights make dot and
  // norm exact cross-engine sums; gram builder mirrors wordShingles
  // (distinct space-joined bigrams of the whitespace tokens of
  // lower(text), shorter-than-2 token lists -> one gram of all tokens)
  row("q_doc_embed_pairs", qDocEmbedPairs)(
      """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split_regex(lower(text), '\s+'),
        |                              x -> len(x) > 0) AS t
        |           FROM documents),
        |sh AS (SELECT doc_id AS id,
        |              CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
        |                   ELSE list_distinct([concat_ws(' ', t[i], t[i+1])
        |                                       for i in generate_series(1, len(t) - 1)])
        |              END AS g
        |       FROM t),
        |p AS (SELECT id, CAST(('0x' || substr(md5(gram), 1, 12)) AS BIGINT) % 256 AS dim
        |      FROM (SELECT id, unnest(g) AS gram FROM sh)),
        |w AS (SELECT id, dim, CAST(COUNT(*) AS DOUBLE) AS w FROM p GROUP BY 1, 2),
        |n AS (SELECT id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1),
        |d AS (SELECT a.id AS id_a, b.id AS id_b, SUM(a.w * b.w) AS dot
        |      FROM w a JOIN w b ON a.dim = b.dim AND a.id < b.id GROUP BY 1, 2)
        |SELECT d.id_a, d.id_b, ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos,
        |       TRUE AS lsh_ok
        |FROM d
        |JOIN n na ON d.id_a = na.id
        |JOIN n nb ON d.id_b = nb.id
        |WHERE d.dot / (na.nrm * nb.nrm) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin)

  /** WRITE-ONCE ANN index — the persisted-artifact discipline the bucketed
    * join and partitioned events already follow (and the reference's own
    * build-once-probe-many hash table, `host/join/join_dpu.cc:255-301`),
    * applied to the vector index: per data directory, ONE k-means/PQ
    * training + list assignment writes
    *   (id, v, list_id, code)  partitioned by list_id   — the index,
    *   (list_id, centroid)                              — coarse quantizer,
    *   (sub, code, centroid)                            — PQ codebook,
    * and every subsequent ivf/pq/ivfpq query only READS: probe selection is
    * driver metadata math over the 16 collected centroids, and the `isin`
    * filter on the partition column prunes unprobed lists at the source.
    * Training cost moves from per-query-execution to per-corpus.
    */
  private def annIndex(
      s: SparkSession,
      d: String): (DataFrame, Seq[(Int, Seq[Double])], graft.ext.Pq.Codebook) = {
    import s.implicits._
    val tag = dirTag(d)
    val idxTable = s"graft_ann_idx_$tag"
    val centTable = s"graft_ann_cent_$tag"
    val cbTable = s"graft_ann_cb_$tag"
    // the INDEX table is written last: it is the existence gate, so a
    // partial earlier failure re-runs the whole build rather than serving
    // a centroid table with no index behind it. The gate is CROSS-JVM:
    // a fresh JVM (empty in-memory catalog) whose path already carries
    // the fully-written artifact ATTACHES it (external tables + partition
    // recovery) instead of retraining — training stays per-corpus, not
    // per-process, and no overwrite can race a concurrent reader.
    stagedOnceGuarded(s"/tmp/graft_ann/$tag")(s.catalog.tableExists(idxTable)) {
      if (new java.io.File(s"/tmp/graft_ann/$tag/index", "_SUCCESS").exists()) {
      s.sql(
        s"""CREATE TABLE IF NOT EXISTS $cbTable
           |(sub INT, code INT, centroid ARRAY<DOUBLE>)
           |USING parquet LOCATION '/tmp/graft_ann/$tag/codebook'""".stripMargin)
      s.sql(
        s"""CREATE TABLE IF NOT EXISTS $centTable
           |(list_id INT, centroid ARRAY<DOUBLE>)
           |USING parquet LOCATION '/tmp/graft_ann/$tag/centroids'""".stripMargin)
      s.sql(
        s"""CREATE TABLE IF NOT EXISTS $idxTable
           |(id BIGINT, v ARRAY<DOUBLE>, code BINARY, list_id INT)
           |USING parquet PARTITIONED BY (list_id)
           |LOCATION '/tmp/graft_ann/$tag/index'""".stripMargin)
      s.sql(s"ALTER TABLE $idxTable RECOVER PARTITIONS")
      } else {
      val emb = Tables.embeddings(s, d)
      val cb = graft.ext.Pq.train(emb, "embedding", m = 16, k = 16)
      val (assigned, cents) = IvfIndex.build(emb, "vec_id", "embedding", nlist = 16)
      cb.centroids.zipWithIndex.flatMap { case (codes, sub) =>
        codes.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
      }.toSeq.toDF("sub", "code", "centroid")
        .write.option("path", s"/tmp/graft_ann/$tag/codebook")
        .mode("overwrite").saveAsTable(cbTable)
      cents
        .write.option("path", s"/tmp/graft_ann/$tag/centroids")
        .mode("overwrite").saveAsTable(centTable)
      assigned
        .withColumn("code",
          graft.functions.NativeExpressions.pq_encode(col("v"), cb.centroids))
        .write.partitionBy("list_id")
        .option("path", s"/tmp/graft_ann/$tag/index")
        .mode("overwrite").saveAsTable(idxTable)
      }
    }
    val cents = s.table(centTable)
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    val cbRows = s.table(cbTable)
      .as[(Int, Int, Seq[Double])].collect()
    val m = cbRows.iterator.map(_._1).max + 1
    val kk = cbRows.iterator.map(_._2).max + 1
    val dsub = cbRows.head._3.length
    val centroids = Array.ofDim[Array[Double]](m, kk)
    cbRows.foreach { case (sub, code, c) => centroids(sub)(code) = c.toArray }
    (s.table(idxTable), cents, graft.ext.Pq.Codebook(m, dsub, kk, centroids))
  }

  /** Product-quantization top-k: ADC scan over the PERSISTED 16-byte codes,
    * wrapped in the exactness audit ([[annRecallVerdict]]; measured
    * overlap 10/20 at sf0.001, 12/20 at sf0.01, floor 5 — quantization
    * error only, no probe pruning; ADC approximates L2 and the unit-norm
    * embeddings make L2 and cosine rankings coincide. CrossCheck
    * additionally pins ADC score agreement with a fresh codebook).
    */
  private def qPqTopK(s: SparkSession, d: String): DataFrame = {
    val (assigned, _, cb) = annIndex(s, d)
    annRecallVerdict(s, d,
      assigned
        .select(
          col("id"),
          graft.functions.NativeExpressions
            .pq_adc_dist(col("code"), cb.adcTable(queryVector(s, d))).as("adc_dist"))
        .orderBy(col("adc_dist"), col("id"))
        .limit(20),
      floor = 5)
  }
  row("q_pq_topk", qPqTopK)(annVerdictOracleSql)

  /** IVF approximate top-k over the persisted index (coarse-quantizer ANN
    * scale path): probe lists chosen from collected centroid metadata,
    * partition-pruned scan of 4/16 lists — wrapped in the exactness audit
    * ([[annRecallVerdict]]; measured overlap 7/20 at sf0.001, 11/20 at
    * sf0.01, floor 5, deterministic because k-means init is seeded).
    */
  private def qIvfTopK(s: SparkSession, d: String): DataFrame = {
    val (assigned, cents, _) = annIndex(s, d)
    val qv = queryVector(s, d)
    annRecallVerdict(s, d,
      IvfIndex.searchIndexed(assigned, IvfIndex.probeListIds(cents, qv, 4), qv, 20),
      floor = 5)
  }
  row("q_ivf_topk", qIvfTopK)(annVerdictOracleSql)

  /** Composed IVF+PQ top-k over the persisted index: partition-pruned
    * lists scanned as PQ codes — probe coverage × 32× code shrink
    * multiply. Wrapped in the exactness audit ([[annRecallVerdict]]) with
    * the FULL PQ scan as the recall reference: the verdict isolates
    * probe-pruning loss (measured overlap vs full-PQ 6/13/8 at
    * sf0.001/0.01/0.1, floor 5), while quantization loss is q_pq_topk's
    * verdict — together they bound the composition. Against exact cosine
    * the compounded overlap bottoms at 3/20 (sf0.1, structureless
    * embeddings — the coarse quantizer's worst case), which is the
    * documented reason this row's floor is layered rather than direct.
    * CrossCheck additionally pins ADC score agreement with a fresh
    * codebook.
    */
  private def qIvfPqTopK(s: SparkSession, d: String): DataFrame = {
    val (assigned, cents, cb) = annIndex(s, d)
    val qv = queryVector(s, d)
    val fullPq = assigned
      .select(
        col("id"),
        graft.functions.NativeExpressions
          .pq_adc_dist(col("code"), cb.adcTable(qv)).as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(20)
    annRecallVerdict(s, d,
      IvfIndex.searchIndexedPq(assigned, IvfIndex.probeListIds(cents, qv, 4), qv, 20, cb),
      floor = 5, reference = Some(fullPq))
  }
  row("q_ivfpq_topk", qIvfPqTopK)(annVerdictOracleSql)

  /** Incremental ANN ingest: a hash-designated new batch (vec_id ≡ 9 mod
    * 10) assigned to the PERSISTED coarse quantizer — no retraining, pure
    * scan against the collected centroid metadata. The per-list landing
    * counts are k-means artifacts no portable engine reproduces, so the
    * row emits the verdict form: the batch size (conservation — the DuckDB
    * oracle counts the same mod-designated batch) plus `assign_ok`, the
    * in-plan check that every vector landed exactly once in a valid list
    * (ids are 1-based, 1..nlist). `CrossCheckSpec` keeps the stronger
    * floor — incremental assignment equals the list a full rebuild
    * chooses, and the per-list breakdown stays tested there via
    * [[IvfIndex.assign]] directly. At 100 TB this is the ingest path that
    * keeps the index write-once-plus-appends instead of periodically
    * retrained.
    */
  private def qIvfIncremental(s: SparkSession, d: String): DataFrame = {
    val (_, cents, _) = annIndex(s, d)
    val nlist = cents.size
    val batch = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(10)) === 9)
    IvfIndex.assign(batch, "vec_id", "embedding", cents.map(_._2))
      .agg(
        count(lit(1)).as("n_assigned"),
        countDistinct(col("id")).as("n_distinct"),
        min(col("list_id")).as("min_list"),
        max(col("list_id")).as("max_list"))
      .select(
        col("n_assigned"),
        (col("min_list") >= 1 && col("max_list") <= nlist &&
          col("n_assigned") === col("n_distinct")).as("assign_ok"))
  }
  // incremental ingest: conservation of the mod-designated batch is the
  // portable side; valid-list landing is the in-plan verdict
  row("q_ivf_incremental", qIvfIncremental)(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_assigned, TRUE AS assign_ok
        |FROM embeddings WHERE vec_id % 10 = 9""".stripMargin)

  /** Edit-distance near-dup pairs: customer names within levenshtein ≤ 2,
    * same-nation only — via symmetric-delete blocking
    * ([[Dedup.editDistancePairs]]). The earlier nation-only blocking had a
    * FIXED 25-block key space: within-block work is quadratic and block
    * size grows linearly with the corpus, so at 100× the per-block verify
    * is 10,000× on 25 tasks. Deletion-variant buckets grow WITH the corpus
    * (block count ≫ cores already at sf0.1), keep the verify linear in the
    * number of true near-dup families, and inherit the capBuckets ceiling
    * + drop audit. Result set is identical (the blocking is complete for
    * lev ≤ 2 — see DeletionHashes' completeness argument), so the oracle is
    * unchanged.
    */
  private def qEditPairs(s: SparkSession, d: String): DataFrame =
    Dedup.editDistancePairs(
        Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_name"),
        "c_custkey", "c_name", maxDist = 2, groupCols = Seq("c_nationkey"))
      .orderBy("id_a", "id_b")
  row("q_edit_pairs", qEditPairs, Headline, Scaling)(
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin)

  /** Duplicate-cluster resolution: connected components over the exact
    * n-gram-Jaccard near-dup graph — pair finding tells you WHO matches;
    * this answers what a dedup pipeline actually needs, WHICH GROUPS to
    * collapse and which survivor to keep (cluster_id = min member doc id).
    * Oracled in DuckDB with a recursive CTE computing min-reachable-id
    * over the identical pair set.
    *
    * Threshold 0.5 (vs q_ngram_jaccard's 0.03): clustering needs DUP-level
    * edges. At 0.03 the pair graph is topic-level similarity — long chains
    * of weakly-related docs merge into sprawling components (measured:
    * 8 pointer-jumping rounds, i.e. ~100-hop paths), which is both slow
    * and the wrong semantics for "collapse these duplicates".
    */
  private def qDupClusters(s: SparkSession, d: String): DataFrame =
    Components.duplicateClusters(stagedDupPairs(s, d), "id_a", "id_b")
      .orderBy("cluster_id")
  // q_dup_clusters: the q_ngram_jaccard pair pipeline as a CTE, then
  // min-reachable-id per node via a recursive CTE (transitive closure is
  // fine at oracle scale; the engine side uses iterative label
  // propagation instead)
  row("q_dup_clusters", qDupClusters)(dupClustersOracle)

  /** BFS hop distance from each near-dup cluster's canonical survivor
    * ([[Components.hopDistance]]): how many near-dup links separate a
    * document from the representative its cluster keeps — the "dup
    * chain depth" a curation pipeline inspects when transitive
    * near-dup merging (A≈B≈C) starts fusing documents that are NOT
    * pairwise similar (dist ≥ 2 = kept only via a chain). Seeds are the
    * component minima from the same one staged pair set every graph row
    * consumes; both the labeling and the BFS are
    * one-edge-shuffle-per-round iterations, O(diameter) rounds. The
    * oracle recomputes labels AND distances from raw text via recursive
    * CTEs — a full differential on the iterative machinery.
    */
  private def qGraphBfs(s: SparkSession, d: String): DataFrame = {
    val pairs = stagedDupPairs(s, d)
    val labels = Components.connectedComponents(pairs, "id_a", "id_b")
    val seeds = labels.filter(col("id") === col("comp")).select("id")
    Components.hopDistance(pairs, "id_a", "id_b", seeds, "id")
      .join(labels, "id")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"), col("dist"))
      .orderBy("doc_id")
  }
  row("q_graph_bfs", qGraphBfs)(dupBfsOracle)

  /** Connected-component labels through Spark's native `WITH RECURSIVE`
    * SQL surface — the same cluster_id/n_members result as
    * [[qDupClusters]] (identical oracle), computed by the ANSI recursive
    * CTE instead of [[graft.ext.Components]]' pointer jumping. Three
    * engines, three mechanisms, one answer: DuckDB's unbounded
    * UNION-dedup recursion (the oracle), Spark's iterative UnionLoop
    * here, and the log-hop pointer jumping — a genuine differential on
    * the recursion machinery itself. The recursive term propagates a
    * label only DOWNWARD (`r.comp < e.dst`) and is depth-bounded at 3:
    * near-dup clusters at threshold 0.5 are cliques (the
    * [[qGraphTriangles]] transitivity certificate), so the component
    * minimum reaches every member in ONE hop and the bound is safety
    * margin, not a correctness assumption the oracle can't check — a
    * diameter-4 chain would hash-mismatch against DuckDB's unbounded
    * recursion. Scale note: recursive SQL with UNION ALL grows the
    * frontier per level, so the 100 TB path for deep graphs remains the
    * pointer-jumping operator (log-hop, deduped per round); this row
    * pins the SQL surface on the graph shape it is right for.
    */
  private def qRecursiveCte(s: SparkSession, d: String): DataFrame = {
    val pairs = tempView(s, d, "graft_dup_pairs", stagedDupPairs(s, d))
    // the recursion's working set scales with the pair graph, and Spark's
    // default cteRecursionRowLimit (1M rows) is a safety valve, not a
    // semantic bound — the ×10 fixture tripped it (sf1 bench r16). The
    // query's own guards (dist < 3, comp < dst) bound the recursion;
    // raise the valve so the bound that terminates is the DECLARED one.
    // At 100 TB this conf is sized to the expected frontier, same as any
    // iterate-to-fixpoint job.
    s.conf.set("spark.sql.cteRecursionRowLimit", "100000000")
    s.sql(
      s"""WITH RECURSIVE reach(id, comp, dist) AS (
         |  SELECT DISTINCT src, src, 0 FROM (
         |    SELECT id_a AS src FROM $pairs
         |    UNION ALL SELECT id_b FROM $pairs)
         |  UNION ALL
         |  SELECT e.dst, r.comp, r.dist + 1
         |  FROM reach r
         |  JOIN (SELECT id_a AS src, id_b AS dst FROM $pairs
         |        UNION ALL SELECT id_b, id_a FROM $pairs) e
         |    ON e.src = r.id
         |  WHERE r.dist < 3 AND r.comp < e.dst
         |),
         |lbl AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
         |SELECT comp AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
         |FROM lbl GROUP BY comp ORDER BY cluster_id""".stripMargin)
  }
  row("q_recursive_cte", qRecursiveCte)(dupClustersOracle)

  /** Triangle count + global clustering coefficient over the near-dup
    * pair graph — the transitivity diagnostic of a dedup pipeline: near-dup
    * SHOULD be roughly transitive (A≈B≈C ⇒ A≈C), so a low
    * triangles-to-wedges ratio flags a threshold that is chaining unlike
    * documents into clusters. Algorithm: the pair list is already
    * id-oriented (id_a < id_b — each undirected edge exactly once), so
    * triangles enumerate as wedge (a;b<c) ⋈ closing edge (b,c) — every
    * triangle counted exactly once, the standard oriented-join shape whose
    * 100 TB form orients by DEGREE instead of id (bounding per-vertex
    * fan-out by √E); wedges come from a degree aggregate, integer-exact
    * via DIV. The edge list is the write-once [[stagedDupPairs]] artifact,
    * so the expensive pair pipeline runs once per directory and all three
    * edge roles plus the degree count read the materialized file.
    */
  private def qGraphTriangles(s: SparkSession, d: String): DataFrame = {
    // staged artifact (already materialized) — no localCheckpoint needed
    // for the three edge roles to share one computation
    val e = stagedDupPairs(s, d)
    val tri = e.as("ab")
      .join(e.as("ac"),
        col("ab.id_a") === col("ac.id_a") && col("ab.id_b") < col("ac.id_b"))
      .select(col("ab.id_b").as("b"), col("ac.id_b").as("c"))
      .join(e.as("bc"), col("b") === col("bc.id_a") && col("c") === col("bc.id_b"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = e.select(col("id_a").as("id"))
      .unionAll(e.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .agg(sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(tri)
      .crossJoin(wedges)
      .select(
        col("n_edges"), col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          round(col("n_triangles") * lit(3) / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("transitivity"))
  }
  // q_graph_triangles: the same exact pair set as q_dup_clusters, then
  // oriented wedge join + closing edge; wedges integer-exact via DIV,
  // transitivity double with identical operand order in both engines
  row("q_graph_triangles", qGraphTriangles)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i.id_a, i.id_b
        |  FROM inter i
        |  JOIN sizes sa ON i.id_a = sa.id
        |  JOIN sizes sb ON i.id_b = sb.id
        |  WHERE CAST(i.n_inter AS DOUBLE) /
        |        CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM pairs ab
        |  JOIN pairs ac ON ab.id_a = ac.id_a AND ab.id_b < ac.id_b
        |  JOIN pairs bc ON bc.id_a = ab.id_b AND bc.id_b = ac.id_b),
        |deg AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM (SELECT id_a AS id FROM pairs
        |        UNION ALL SELECT id_b FROM pairs)
        |  GROUP BY id),
        |w AS (SELECT CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT)
        |             AS n_wedges FROM deg),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
        |SELECT ne.n_edges, tri.n_triangles, w.n_wedges,
        |       CASE WHEN w.n_wedges > 0
        |            THEN ROUND(tri.n_triangles * 3 / w.n_wedges, 6)
        |            ELSE 0.0 END AS transitivity
        |FROM ne, tri, w""".stripMargin)

  /** Canonical-survivor selection — the step a dedup pipeline runs AFTER
    * clustering: within each near-dup cluster keep the BEST member (max
    * [[graft.ext.TextAnalysis.qualityScore]], min doc_id tie-break), drop
    * the rest. Min-id survivorship ([[graft.ext.Dedup.normalized]],
    * [[graft.ext.Components]]' cluster label) is arbitrary; real corpus
    * builds keep the highest-quality copy. Shape: the label table is
    * joined to documents FIRST, so only cluster members are ever scored,
    * and the pick is a `max_by` AGGREGATE over a totally-ordered
    * (quality, -doc_id) struct — one doc_id-keyed shuffle plus a
    * cluster_id-keyed agg with map-side partials, no per-cluster window
    * sort. The oracle replays the recursive-CTE clustering of
    * `q_dup_clusters` plus the arithmetic quality formula of
    * `q_text_stats`, then takes the same arg-max via row_number.
    */
  private def qDedupCanonical(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val labels = Components.connectedComponents(
      stagedDupPairs(s, d), "id_a", "id_b")
    docs
      .join(labels.select(col("id").as("doc_id"), col("comp").as("cluster_id")),
        "doc_id")
      .select(col("cluster_id"), col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
          .as("canonical_id"),
        max(col("quality")).as("canonical_quality"))
      .orderBy("cluster_id")
  }
  // q_dedup_canonical: q_dup_clusters' recursive-CTE clustering plus the
  // arithmetic quality formula (TextAnalysis.qualityScore — the same
  // ratio recipes q_text_stats pins), arg-max via row_number
  row("q_dedup_canonical", qDedupCanonical)(
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i.id_a, i.id_b
        |  FROM inter i
        |  JOIN sizes sa ON i.id_a = sa.id
        |  JOIN sizes sb ON i.id_b = sb.id
        |  WHERE CAST(i.n_inter AS DOUBLE) /
        |        CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |lbl AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id,
        |         ROUND(LEAST(1.0, GREATEST(0.0,
        |           (CASE WHEN length(text) /
        |                   GREATEST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                                            x -> len(x) > 0)), 1)
        |                 BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
        |           * (0.5 + 2 * len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
        |                / GREATEST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                                           x -> len(x) > 0)), 1))
        |           - 2 * length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |               / GREATEST(length(text), 1))), 4) AS quality
        |  FROM documents),
        |m AS (
        |  SELECT l.comp AS cluster_id, l.id AS doc_id, q.quality,
        |         ROW_NUMBER() OVER (PARTITION BY l.comp
        |                            ORDER BY q.quality DESC, l.id) AS rn,
        |         COUNT(*) OVER (PARTITION BY l.comp) AS n_members
        |  FROM lbl l JOIN q ON q.doc_id = l.id)
        |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
        |       doc_id AS canonical_id, quality AS canonical_quality
        |FROM m WHERE rn = 1 ORDER BY cluster_id""".stripMargin)

  /** MinHash/LSH band-config PLANNER: before committing 100 TB to a
    * (bands, rows) choice, score the candidate configs against the
    * corpus's OWN pair-similarity distribution. The corpus-sized work is
    * the exact n-gram pair scan already audited by [[qNgramJaccard]]
    * (threshold 0.03, inverted-index + df-ceiling discipline); pairs then
    * reduce to a ≤10-row Jaccard-decile histogram, and each (b, r) config
    * with b·r = 128 gets the S-curve catch probability 1 − (1 − s^r)^b at
    * the decile midpoint plus the expected caught-pair count. Powers are
    * EXPLICIT square chains (s→s²→s⁴→…) mirrored op-for-op in the oracle —
    * never pow()/exp(), whose libm rounding differs across engines. The
    * 10×3 grid cross-join is metadata-sized (cartesian-audit allowlisted).
    */
  private def qMinhashTuning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val decs = Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id",
        "text", n = 3, threshold = 0.03)
      .select(least(floor(col("jaccard") * 10), lit(9L)).as("dec"))
      .groupBy("dec").agg(count(lit(1)).as("n_pairs"))
    val configs = Seq((32, 4), (16, 8), (8, 16)).toDF("b", "r")
    decs.crossJoin(broadcast(configs))
      .withColumn("s",
        (col("dec").cast("double") + lit(0.5)) / lit(10.0))
      .withColumn("s2", col("s") * col("s"))
      .withColumn("s4", col("s2") * col("s2"))
      .withColumn("s8", col("s4") * col("s4"))
      .withColumn("s16", col("s8") * col("s8"))
      .withColumn("q",
        lit(1.0) - when(col("r") === 4, col("s4"))
          .when(col("r") === 8, col("s8")).otherwise(col("s16")))
      .withColumn("q2", col("q") * col("q"))
      .withColumn("q4", col("q2") * col("q2"))
      .withColumn("q8", col("q4") * col("q4"))
      .withColumn("q16", col("q8") * col("q8"))
      .withColumn("q32", col("q16") * col("q16"))
      .withColumn("p_mid",
        lit(1.0) - when(col("b") === 8, col("q8"))
          .when(col("b") === 16, col("q16")).otherwise(col("q32")))
      .select(col("b"), col("r"), col("dec"), col("n_pairs"), col("p_mid"),
        (col("n_pairs").cast("double") * col("p_mid")).as("exp_caught"))
      .orderBy("b", "dec")
  }
  // q_minhash_tuning: the q_ngram_jaccard pair CTE at threshold 0.03,
  // then the decile histogram × band-config grid; powers are the SAME
  // explicit square chains as the Spark side (never pow(), whose libm
  // rounding is engine-specific)
  row("q_minhash_tuning", qMinhashTuning)(
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                  for i in generate_series(1, len(t) - 2)])
        |         END AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |posting AS (SELECT id, unnest(g) AS gram FROM sh),
        |sizes AS (SELECT id, len(g) AS n_sh FROM sh),
        |shared AS (SELECT gram FROM posting
        |           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 10000),
        |pruned AS (SELECT id, gram FROM posting JOIN shared USING (gram)),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM pruned a JOIN pruned b USING (gram)
        |  WHERE a.id < b.id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT ROUND(CAST(i.n_inter AS DOUBLE) /
        |               CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 6) AS j
        |  FROM inter i
        |  JOIN sizes sa ON i.id_a = sa.id
        |  JOIN sizes sb ON i.id_b = sb.id
        |  WHERE CAST(i.n_inter AS DOUBLE) /
        |        CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.03),
        |decs AS (
        |  SELECT CAST(LEAST(FLOOR(j * 10), 9) AS BIGINT) AS dec,
        |         COUNT(*) AS n_pairs
        |  FROM pairs GROUP BY 1),
        |configs(b, r) AS (VALUES (32, 4), (16, 8), (8, 16)),
        |grid AS (
        |  SELECT b, r, dec, n_pairs,
        |         (CAST(dec AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |           / CAST(10.0 AS DOUBLE) AS s
        |  FROM decs CROSS JOIN configs),
        |p1 AS (SELECT *, s * s AS s2 FROM grid),
        |p2 AS (SELECT *, s2 * s2 AS s4 FROM p1),
        |p3 AS (SELECT *, s4 * s4 AS s8 FROM p2),
        |p4 AS (SELECT *, s8 * s8 AS s16 FROM p3),
        |p5 AS (SELECT *, CAST(1.0 AS DOUBLE) -
        |         (CASE WHEN r = 4 THEN s4 WHEN r = 8 THEN s8
        |               ELSE s16 END) AS q FROM p4),
        |p6 AS (SELECT *, q * q AS q2 FROM p5),
        |p7 AS (SELECT *, q2 * q2 AS q4 FROM p6),
        |p8 AS (SELECT *, q4 * q4 AS q8 FROM p7),
        |p9 AS (SELECT *, q8 * q8 AS q16 FROM p8),
        |pa AS (SELECT *, q16 * q16 AS q32 FROM p9),
        |pb AS (SELECT *, CAST(1.0 AS DOUBLE) -
        |         (CASE WHEN b = 8 THEN q8 WHEN b = 16 THEN q16
        |               ELSE q32 END) AS p_mid FROM pa)
        |SELECT b, r, dec, n_pairs, p_mid,
        |       CAST(n_pairs AS DOUBLE) * p_mid AS exp_caught
        |FROM pb ORDER BY b, dec""".stripMargin)
}
