package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.TextAnalysis
import graft.functions.{GraftFunctions, NativeExpressions}
import graft.functions.GraftFunctions._
import graft.operators.{PositionalTake, PrefixSum}
import graft.sources.Tables
import graft.catalog.Support._
import graft.catalog.Tag._

/** Text and language-model corpus rows: tokenization, n-gram and
  * term statistics, corpus assembly.
  */
object TextLlm extends Family {

  /** Generator/flatten (Catalyst `Generate`): one row per token. */
  private def qExplodeTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .orderBy("doc_id", "token")
  row("q_explode_tokens", qExplodeTokens)(
      """SELECT doc_id,
        |       unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                          x -> len(x) > 0)) AS token
        |FROM documents WHERE doc_id < 50
        |ORDER BY doc_id, token""".stripMargin)

  /** Okapi BM25 (k1=1.2, b=0.75) relevance of every document to a fixed
    * three-term query, top-10 by score.
    *
    * Scale shape — the reason this is NOT the textbook explode→tf→df→join
    * pipeline: with a known (small) query-term set, per-term tf is
    * computed INSIDE each row from the token array (three `filter` passes
    * over an already-materialized array — row-local CPU, no Generate, no
    * per-token shuffle), and the corpus statistics (N, avgdl, per-term
    * df) reduce to ONE scalar row that a broadcast cross-join feeds back.
    * The whole query is TWO passes over documents — one feeding the 1-row
    * stats aggregate, one scoring against the broadcast of that row (the
    * tokenize runs in each; at scale the second pass is the price of not
    * materializing a tokenized copy of the corpus) — plus a
    * TakeOrderedAndProject; nothing token-shaped ever crosses an
    * exchange. Every constant is written as the same decimal literal in
    * the Spark plan and the DuckDB oracle, and the arithmetic tree shapes
    * match, so the rounded scores agree bit-for-bit.
    */
  private def qBm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "merge")
    val withToks = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // toks is a plain attribute here, so CollapseProject keeps the
    // tokenize single-evaluation (non-cheap expressions referenced more
    // than once are not inlined). tf via the native codegen'd equals loop
    // (the HOF `size(filter(...))` dispatched an interpreted lambda per
    // token × term)
    val perDoc = withToks.select(
      col("doc_id") +: size(col("toks")).as("dl") +:
        terms.map(t =>
          NativeExpressions.array_count_eq(col("toks"), t).as(s"tf_$t")): _*)
    val statCols = count(lit(1)).as("n_docs") +: avg(col("dl")).as("avgdl") +:
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val score = terms.map { t =>
      val tf = col(s"tf_$t")
      val df = col(s"df_$t")
      log((col("n_docs") - df + 0.5) / (df + 0.5) + 1.0) *
        (tf * 2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }
  // q_bm25: identical arithmetic tree and literals as the Spark side
  // (ln/division/multiplication order), so the 6-decimal rounding agrees
  // bit-for-bit. The one non-obvious cast: tf * 2.2 would be EXACT
  // DECIMAL arithmetic in DuckDB (int x DECIMAL(2,1)), ~2 ulps from
  // Spark's double product — CAST(2.2 AS DOUBLE) forces the same IEEE
  // multiply. The other constants (0.25, 0.75, 0.5, 1.0) are
  // binary-exact, and 1.2 multiplies an already-double operand, so they
  // promote identically.
  row("q_bm25", qBm25)(
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
        |  FROM per_doc)
        |SELECT doc_id, bm25 FROM (
        |  SELECT doc_id, ROUND(
        |      ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
        |        * (tf_hash * CAST(2.2 AS DOUBLE))
        |        / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
        |        * (tf_join * CAST(2.2 AS DOUBLE))
        |        / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln((n_docs - df_merge + 0.5) / (df_merge + 0.5) + 1.0)
        |        * (tf_merge * CAST(2.2 AS DOUBLE))
        |        / (tf_merge + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        |  FROM per_doc, stats)
        |WHERE bm25 > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin)

  /** TF-IDF: the highest-scoring term per document (score = tf · ln(N/df),
    * rounded before ranking so the Spark and oracle rankings agree at ties;
    * term-ascending tie-break makes the winner unique). Shape: tokenize →
    * (doc, term) partial-agg tf → term-keyed df agg → term-keyed join back —
    * two aggregations and one join, each with map-side combine. The corpus
    * size N is an uncorrelated scalar subquery: Catalyst executes it once
    * and inlines the value (no join node, no driver collect). The per-doc
    * argmax is a window over the doc partition — each doc's postings are
    * tiny, so the window never spills.
    *
    * The df branch is a ROLLUP OF THE tf AGGREGATE, not an independent
    * re-derivation (r19 finding: the corpus tokenized TWICE): column
    * pruning used to strip the COUNT from df's copy of the tf subtree, the
    * canonicalized subtrees diverged, and ReuseExchange re-ran the whole
    * tokenize+explode+aggregate for the df side. The semantically-no-op
    * `WHERE tf > 0` (COUNT(*) is always ≥ 1) references the count column,
    * so both consumers see the IDENTICAL aggregate and the df branch reads
    * the (doc_id, term) exchange back as ReusedExchange — one
    * `Generate explode(tokenize)` subtree in the executed plan (the
    * q_lm_score null-filter-pinning discipline).
    */
  private def qTfidf(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.registerAll(s)
    val docs = tempView(s, d, "graft_tfidf_docs", Tables.documents(s, d))
    s.sql(
      s"""WITH tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, explode(graft_tokenize(text)) AS term
         |        FROM $docs)
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, COUNT(*) AS df FROM tf WHERE tf > 0 GROUP BY term),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |         ROUND(tf.tf * ln(CAST((SELECT COUNT(*) FROM $docs) AS DOUBLE)
         |                          / df.df), 6) AS score
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id, term AS top_term, score FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, term) AS rn
         |  FROM scored)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin)
  }
  row("q_tfidf", qTfidf, Anchor, Headline, Scaling)(
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                            x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term AS top_term, score FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)

  /** Bigram language-model document scoring — the statistical-LM quality
    * filter (KenLM-style perplexity gate) of a pretraining pipeline,
    * model-free: train a bigram LM on the corpus itself (p(w2|w1) =
    * c(w1,w2) / c(w1·), context counts, so probabilities sum to 1 and
    * every doc bigram is in-vocabulary by construction), then score each
    * document by its average bigram log-likelihood — low scores = word
    * salad, high = formulaic repetition. Shape: bigram instances are
    * pre-aggregated PER DOCUMENT before anything wide (map-side combine on
    * (doc_id,w1,w2)), the LM tables are corpus-level aggregates of that
    * same relation (AQE reuses the (w1,w2) exchange), and the score join
    * is keyed on the bigram alone — no per-token shuffle, no driver-side
    * vocabulary. ln(c2/c1) is written identically in both engines (single
    * double division, then ln) so the 6-decimal rounding compares exactly.
    */
  private def qLmScore(s: SparkSession, d: String): DataFrame = {
    // r20: the bigram pair list is built by ONE native loop per document
    // (NativeExpressions.BigramPairs, property-pinned ≡ the r19
    // zip_with(slice, slice) formulation) — the HOF tree allocated two
    // array slices and dispatched an interpreted lambda per element
    // inside the Generate, where whole-stage codegen cannot reach. The
    // tokenize stays single-evaluation: it is the expression's one
    // argument, evaluated once per row inside the Generate.
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(NativeExpressions.bigram_pairs(tokens(col("text")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      // semantically a no-op (zip_with over non-null token arrays), but it
      // pins BOTH null filters explicitly: the c1 branch's join otherwise
      // infers only isnotnull(w1), the c2/score branches infer both, the
      // canonicalized subtrees differ, and ReuseExchange re-tokenizes the
      // whole corpus for the c1 branch (observed in the -exec plan)
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("k"))
    val c2 = perDoc.groupBy("w1", "w2").agg(sum(col("k")).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val lm = c2.join(c1, "w1")
      .select(col("w1"), col("w2"), log(col("c2") / col("c1")).as("logp"))
    perDoc.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(
        sum(col("k")).as("n_bigrams"),
        round(sum(col("k") * col("logp")) / sum(col("k")), 6).as("avg_logp"))
      .orderBy("doc_id")
  }
  // q_lm_score: corpus-trained bigram LM (context counts), per-doc
  // average log-likelihood; ln(c2/c1) written identically in both
  // engines so the 6-decimal rounding compares exactly
  row("q_lm_score", qLmScore)(
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |                             x -> len(x) > 0) AS l
        |  FROM documents),
        |inst AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(2, len(l)),
        |                                       i -> [l[i-1], l[i]])) AS bg
        |  FROM tok WHERE len(l) >= 2),
        |perdoc AS (
        |  SELECT doc_id, bg[1] AS w1, bg[2] AS w2, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM inst GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c2 FROM perdoc GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |lm AS (SELECT c2.w1, c2.w2, ln(c2.c2 / c1.c1) AS logp
        |       FROM c2 JOIN c1 USING (w1))
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |       ROUND(SUM(k * logp) / SUM(k), 6) AS avg_logp
        |FROM perdoc JOIN lm USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Unigram Shannon entropy per document — the token-diversity quality
    * signal (low entropy = repetitive boilerplate/keyword stuffing, the
    * complement of [[qRepetition]]'s repeated-span ratio and
    * [[qLmScore]]'s corpus-LM likelihood). Computed in the
    * numerically-portable decomposition H = ln(n) − Σ c·ln(c) / n over
    * per-doc term counts (each ln applied to an exact integer, one
    * division at the end — both engines evaluate the identical IEEE
    * expression), rounded to 6. Shape: one (doc_id, term) map-side-combined
    * count, then a doc-keyed aggregate — no corpus-wide state at all, so
    * the operator is embarrassingly parallel at any corpus size.
    */
  private def qEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_tokens"),
        sum(col("c") * log(col("c"))).as("clogc"))
      .select(
        col("doc_id"), col("n_tokens"),
        round(log(col("n_tokens")) - col("clogc") / col("n_tokens"), 6)
          .as("entropy"))
      .orderBy("doc_id")
  // q_entropy: H = ln(n) - sum(c*ln c)/n over per-doc term counts — each
  // ln applied to an exact integer, one division at the end, identical
  // IEEE expression in both engines
  row("q_entropy", qEntropy)(
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id,
        |               unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                                  x -> len(x) > 0)) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |         SUM(c * ln(c)) AS clogc
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |       ROUND(ln(n_tokens) - clogc / n_tokens, 6) AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin)

  /** Top-20 corpus bigrams: adjacent-token pairs via a zip of the token
    * array against its own tail (no generator self-join — the pair list is
    * built inside the row), then a count partial-agg and a
    * TakeOrderedAndProject. The only shuffle is the bigram-keyed count; the
    * top-k never materializes a global sort.
    */
  private def qBigrams(s: SparkSession, d: String): DataFrame = {
    // tokenize ONCE in a codegen'd projection below the Generate (r19):
    // inlining `tokens(text)` into the explode argument repeats the
    // CodegenFallback tokenizer 5× per document — Generate sits outside
    // whole-stage codegen, so no subexpression elimination saves it
    val t = col("__toks")
    val pairs = when(size(t) >= 2,
        zip_with(
          slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1),
          (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    Tables.documents(s, d)
      .select(tokens(col("text")).as("__toks"))
      .select(explode(pairs).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }
  row("q_bigrams", qBigrams)(
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(trim(text), '\s+'),
        |                     x -> len(x) > 0) AS l
        |  FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(generate_series(2, len(l)),
        |                               i -> l[i-1] || ' ' || l[i])) AS bigram
        |  FROM tok WHERE len(l) >= 2)
        |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
        |FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin)

  /** Top-20 collocations by pointwise mutual information — the
    * association-mining upgrade of raw bigram counts ([[qBigrams]] ranks
    * by frequency, which surfaces stopword pairs; PMI ranks by how much
    * MORE often a pair occurs than its parts predict, the standard
    * phrase-extraction signal). All marginals derive from ONE bigram-count
    * relation (start counts, end counts, total) so the corpus tokenizes
    * once; ln applied to an exact integer ratio, frequency floor ≥ 5
    * (PMI's low-count pathology), deterministic tie-break. The joins are
    * keyed on single words against word-level aggregates — vocabulary-
    * sized, broadcastable at any corpus scale.
    */
  private def qCollocations(s: SparkSession, d: String): DataFrame = {
    // tokenize once below the Generate — see qBigrams (r19)
    val t = col("__toks")
    val bgArr = when(size(t) >= 2,
        zip_with(
          slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val bg = Tables.documents(s, d)
      .select(tokens(col("text")).as("__toks"))
      .select(explode(bgArr).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val cs = bg.groupBy("w1").agg(sum(col("c")).as("cs"))
    val ce = bg.groupBy("w2").agg(sum(col("c")).as("ce"))
    val n = bg.agg(sum(col("c")).as("n_bg"))
    bg.filter(col("c") >= 5)
      .join(cs, "w1")
      .join(ce, "w2")
      .crossJoin(n)
      .select(
        col("w1"), col("w2"), col("c"),
        round(log(col("n_bg") * col("c") / (col("cs") * col("ce"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }
  // q_collocations: PMI from one bigram-count relation (start/end
  // marginals + total), exact-integer ratio under ln, floor c >= 5
  row("q_collocations", qCollocations)(
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(trim(text), '\s+'),
        |                     x -> len(x) > 0) AS l
        |  FROM documents),
        |bgi AS (
        |  SELECT unnest(list_transform(generate_series(2, len(l)),
        |                               i -> [l[i-1], l[i]])) AS bg
        |  FROM tok WHERE len(l) >= 2),
        |bg AS (SELECT bg[1] AS w1, bg[2] AS w2, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM bgi GROUP BY 1, 2),
        |cs AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cs FROM bg GROUP BY 1),
        |ce AS (SELECT w2, CAST(SUM(c) AS BIGINT) AS ce FROM bg GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_bg FROM bg)
        |SELECT w1, w2, c, ROUND(ln(n_bg * c / (cs.cs * ce.ce)), 6) AS pmi
        |FROM bg JOIN cs USING (w1) JOIN ce USING (w2), n
        |WHERE c >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)

  /** Vocabulary coverage: out-of-vocabulary token rate per language
    * against the corpus top-1000 vocabulary — the tokenizer-fit metric a
    * training pipeline tracks when deciding vocab size. The vocabulary is
    * deliberately broadcast-sized (top-K by count, ties broken by term, so
    * the cutoff is deterministic); per-doc OOV ratios then need only a
    * broadcast semi-probe on the token stream — no shuffle keyed on the
    * (unbounded) term domain ever carries document payload.
    */
  private def qVocabCoverage(s: SparkSession, d: String): DataFrame = {
    // MEASURED REJECTION (r20): deriving the vocabulary as a rollup of a
    // shared (doc, lang, term) count aggregate — the qTfidf tokenize-once
    // pattern — DOES collapse the two tokenize subtrees to one
    // (ReusedExchange verified in the executed plan), but regressed the
    // row 1.4× same-sitting (0.94 → 1.94 s full-run-context equivalent):
    // the OOV probe side here has NO exchange at all (raw token stream →
    // broadcast probe → map-side-combined (doc, lang) aggregate), so the
    // shared aggregate ADDS a full-width (doc, lang, term) exchange —
    // nearly instance-sized, most terms occur once per doc — to save one
    // CPU-cheap tokenize pass. tfidf differs: BOTH of its branches already
    // paid that exchange, so reuse was strictly less work. At 100 TB the
    // trade is the same (narrow CPU rescan beats a corpus-wide shuffle);
    // the double tokenize stays.
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(1000)
      .select(col("term"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id", "lang")
      .agg((sum(when(col("in_v").isNull, 1L).otherwise(0L)) / count(lit(1)))
        .as("oov"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("oov")), 6).as("avg_oov"))
      .orderBy("lang")
  }
  // q_vocab_coverage: same whitespace tokenization as q_tfidf; top-1000
  // vocab cutoff deterministic via (count DESC, term) ordering
  row("q_vocab_coverage", qVocabCoverage)(
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |         unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                            x -> len(x) > 0)) AS term
        |  FROM documents),
        |v AS (SELECT term FROM tok GROUP BY term
        |      ORDER BY COUNT(*) DESC, term LIMIT 1000),
        |d AS (SELECT t.doc_id, t.lang,
        |             SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |               * 1.0 / COUNT(*) AS oov
        |      FROM tok t LEFT JOIN v ON t.term = v.term
        |      GROUP BY t.doc_id, t.lang)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       ROUND(AVG(oov), 6) AS avg_oov
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Zipf fit of the corpus token distribution: least-squares slope of
    * log-frequency against log-rank — the vocabulary-health scalar (a
    * natural corpus sits near −1; boilerplate flattens it) reported next
    * to [[qVocabCoverage]]. Rank is the DISTRIBUTED global index over
    * (count desc, term), and the fit is the built-in `regr_slope` /
    * `regr_intercept` aggregates — one pass over the term table, no
    * driver-side math.
    */
  private def qZipfSlope(s: SparkSession, d: String): DataFrame = {
    val freq = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .withColumn("neg_c", -col("c"))
    PositionalTake.withGlobalIndex(freq, Seq("neg_c", "term"), "idx")
      .select(log(col("idx") + 1).as("lx"), log(col("c")).as("ly"))
      .agg(
        count(lit(1)).as("n_terms"),
        round(regr_slope(col("ly"), col("lx")), 4).as("slope"),
        round(regr_intercept(col("ly"), col("lx")), 4).as("intercept"))
  }
  // q_zipf_slope: rank = row_number over (count DESC, term) == the
  // engine's distributed global index + 1; ln == Spark log
  row("q_zipf_slope", qZipfSlope)(
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                            x -> len(x) > 0)) AS term
        |  FROM documents),
        |f AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk
        |      FROM f)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |       ROUND(regr_slope(ln(c), ln(rnk)), 4) AS slope,
        |       ROUND(regr_intercept(ln(c), ln(rnk)), 4) AS intercept
        |FROM r""".stripMargin)

  /** Top-20 per-user event-type trigrams (the "path analysis" view:
    * which 3-step journeys dominate?). The sequence windows are
    * user-partitioned — lead() never crosses the key, so the only wide
    * shuffle is the per-user repartition the events already need — and
    * the trigram count collapses onto a ≤125-key domain with map-side
    * combine. Deterministic intra-user order via (ts, event_id).
    */
  private def qPathTrigrams(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("step2", lead(col("event_type"), 1).over(w))
      .withColumn("step3", lead(col("event_type"), 2).over(w))
      .filter(col("step2").isNotNull && col("step3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("step1"), asc("step2"), asc("step3"))
      .limit(20)
  }
  // q_path_trigrams: LEAD over the identical (ts, event_id) intra-user
  // order; deterministic top-20 tiebreak on the full trigram
  row("q_path_trigrams", qPathTrigrams)(
      """WITH s AS (
        |  SELECT event_type AS step1,
        |         LEAD(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS step2,
        |         LEAD(event_type, 2) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS step3
        |  FROM events)
        |SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM s WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin)

  /** First BPE merge step over the corpus: frequencies of adjacent
    * lowercase character pairs — the inner loop of tokenizer training,
    * run corpus-wide. The pair extraction is a per-row array transform
    * (no row explosion carries the full text: the lambda materializes
    * only the 2-char pairs), and the count collapses onto the ≤676-key
    * [a-z]² domain with map-side combine — at 100 TB this is a linear
    * scan plus a compact-domain aggregate, exactly how production BPE
    * counts its merge candidates.
    */
  private def qBpeMerges(s: SparkSession, d: String): DataFrame =
    // Pair extraction is a native single-pass expression (r19
    // optimization, [[graft.functions.NativeExpressions.BpePairs]]): the
    // HOF formulation — transform(sequence(...), lower∘substr) filtered by
    // `rlike '^[a-z]{2}$'` — evaluated an interpreted lambda tree plus a
    // regex matcher per adjacent pair, ~1.5M evaluations at sf0.1 all in
    // the scan's single task. The expression emits the identical pair
    // multiset in the identical order (unicode edge cases included — see
    // its scaladoc), allocating only on match.
    Tables.documents(s, d)
      .select(explode(
        graft.functions.NativeExpressions.bpe_pairs(col("text"))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(30)
  // q_bpe_merges: per-position substr replay of the same pair
  // extraction; identical [a-z]{2} gate and deterministic top-30
  row("q_bpe_merges", qBpeMerges)(
      """WITH pairs AS (
        |  SELECT lower(substr(text, CAST(i AS INT), 2)) AS pair
        |  FROM documents,
        |       UNNEST(generate_series(1, len(text) - 1)) AS t(i))
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pairs WHERE regexp_matches(pair, '^[a-z]{2}$')
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin)

  /** Autocomplete index: the top-3 completions (by corpus frequency) for
    * every 3-char token prefix with enough support — the typeahead table a
    * search box serves. The per-prefix top-k is a `row_number<=k` window
    * the [[graft.plans.RankLimitRule]] rewrites onto the bounded-heap
    * [[graft.plans.TopKPerKey]] operator — with a STRING in the ordering
    * struct, the exact path the heap's deep-copy fix guards (ties break
    * token-descending so the all-desc ordering stays rule-rewritable).
    */
  private def qAutocomplete(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .select(explode(tokens(lower(col("text")))).as("t"))
      .filter(length(col("t")) >= 3)
      .groupBy(substring(col("t"), 1, 3).as("prefix"), col("t"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("prefix")
      .orderBy(col("n").desc, col("t").desc)
    tok.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("n") >= 20)
      .select(col("prefix"), col("t").as("token"), col("n"))
      .orderBy("prefix", "token")
  }
  // q_autocomplete: same lowercase tokenizer, char-based 3-prefix,
  // all-desc (n, token) rank in both engines
  row("q_autocomplete", qAutocomplete)(
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                            x -> len(x) > 0)) AS t
        |  FROM documents),
        |c AS (SELECT substr(t, 1, 3) AS prefix, t, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM t WHERE len(t) >= 3 GROUP BY 1, 2),
        |r AS (SELECT prefix, t AS token, n,
        |             ROW_NUMBER() OVER (PARTITION BY prefix
        |                                ORDER BY n DESC, t DESC) AS rn
        |      FROM c)
        |SELECT prefix, token, n FROM r WHERE rn <= 3 AND n >= 20
        |ORDER BY prefix, token""".stripMargin)

  /** Token-budget allocation across sources — the data-mixing step that
    * fills a training budget greedily by source quality (here: exact
    * unique-text ratio, the dedup health signal) until the budget is
    * exhausted, leaving a partial allocation at the cutoff source. The
    * per-source stats are one map-side-combinable aggregate; the greedy
    * fill is a cumulative window over the compact source domain (≤ a few
    * thousand sources at any corpus size); tokens are integer
    * (n_chars div 4) throughout.
    */
  private def qTokenBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = Tables.documents(s, d)
      .select(col("source"), (col("n_chars") / 4).cast("long").as("toks"),
        md5(col("text")).as("fp"))
      .groupBy("source")
      .agg(
        sum(col("toks")).as("src_tokens"),
        (countDistinct(col("fp")) / count(lit(1)).cast("double"))
          .as("unique_ratio"))
    val budget = src.agg((sum(col("src_tokens")) * 3 / 10).cast("long").as("budget"))
    // greedy order: quality first, then prefer LARGER sources (fewer
    // cutoff fragments), source id as the final deterministic tiebreak
    val before = Window
      .orderBy(desc("unique_ratio"), desc("src_tokens"), asc("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    src
      .withColumn("cum_before", coalesce(sum(col("src_tokens")).over(before), lit(0L)))
      .crossJoin(broadcast(budget))
      .select(
        col("source"), col("src_tokens"),
        round(col("unique_ratio"), 6).as("unique_ratio"),
        greatest(lit(0L),
          least(col("src_tokens"), col("budget") - col("cum_before")))
          .as("allocated"))
      .orderBy("source")
  }
  // q_token_budget: same greedy order (quality desc, size desc, source)
  // and integer token arithmetic; the budget subquery is the 1-row total
  row("q_token_budget", qTokenBudget)(
      """WITH src AS (
        |  SELECT source, CAST(SUM(n_chars // 4) AS BIGINT) AS src_tokens,
        |         COUNT(DISTINCT md5(text)) / CAST(COUNT(*) AS DOUBLE)
        |           AS unique_ratio
        |  FROM documents GROUP BY source),
        |b AS (SELECT CAST(SUM(src_tokens) * 3 // 10 AS BIGINT) AS budget
        |      FROM src),
        |cum AS (
        |  SELECT source, src_tokens, unique_ratio,
        |         COALESCE(CAST(SUM(src_tokens) OVER (
        |           ORDER BY unique_ratio DESC, src_tokens DESC, source
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS cum_before
        |  FROM src)
        |SELECT source, src_tokens, ROUND(unique_ratio, 6) AS unique_ratio,
        |       GREATEST(0, LEAST(src_tokens,
        |                         (SELECT budget FROM b) - cum_before))
        |         AS allocated
        |FROM cum ORDER BY source""".stripMargin)

  private def qTextStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityStats(Tables.documents(s, d), "doc_id", "text")
      .select(
        col("id"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("avg_token_len"), col("alpha_ratio"),
        col("punct_ratio"), col("stopword_ratio"))
      .orderBy("id")
  row("q_text_stats", qTextStats)(
      """SELECT doc_id AS id,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                            x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |       ROUND(length(text) /
        |             GREATEST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                                      x -> len(x) > 0)), 1), 4) AS avg_token_len,
        |       ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) /
        |             GREATEST(length(text), 1), 4) AS alpha_ratio,
        |       ROUND(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) /
        |             GREATEST(length(text), 1), 4) AS punct_ratio,
        |       ROUND(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                 x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) /
        |             GREATEST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                                      x -> len(x) > 0)), 1), 4) AS stopword_ratio
        |FROM documents ORDER BY id""".stripMargin)

  private def qLangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id").as("id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("id")
  row("q_lang_id", qLangId)(
      """WITH s AS (
        |  SELECT doc_id AS id,
        |         len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
        |         len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','zu','den'))) AS s_de,
        |         len(list_filter(t, x -> x IN ('le','la','les','et','est','un','une','des','que','pour'))) AS s_fr,
        |         len(list_filter(t, x -> x IN ('el','la','los','las','y','es','un','una','que','por'))) AS s_es,
        |         len(list_filter(t, x -> x IN ('il','la','gli','e','che','un','una','per','non','sono'))) AS s_it
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents))
        |SELECT id,
        |       CASE
        |         WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 AND s_it = 0 THEN 'und'
        |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_it THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_it THEN 'de'
        |         WHEN s_fr >= s_es AND s_fr >= s_it THEN 'fr'
        |         WHEN s_es >= s_it THEN 'es'
        |         ELSE 'it'
        |       END AS lang_pred
        |FROM s ORDER BY id""".stripMargin)

  /** Declared vs detected language confusion — the metadata-QA pass over
    * [[qLangId]]'s per-doc predictions: rows off the diagonal are either
    * mislabeled metadata or documents the stopword detector cannot place
    * (`und`, and zh — which has no stopword list — lands there by
    * construction, making the zh row the detector's honest coverage
    * statement). One compact (declared, detected) aggregate.
    */
  private def qLangConfusion(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_pred")
  // q_lang_confusion: the q_lang_id detector replayed, grouped against
  // the declared label
  row("q_lang_confusion", qLangConfusion)(
      """WITH s AS (
        |  SELECT lang,
        |         len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
        |         len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','zu','den'))) AS s_de,
        |         len(list_filter(t, x -> x IN ('le','la','les','et','est','un','une','des','que','pour'))) AS s_fr,
        |         len(list_filter(t, x -> x IN ('el','la','los','las','y','es','un','una','que','por'))) AS s_es,
        |         len(list_filter(t, x -> x IN ('il','la','gli','e','che','un','una','per','non','sono'))) AS s_it
        |  FROM (SELECT lang,
        |               list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |p AS (
        |  SELECT lang,
        |         CASE
        |           WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 AND s_it = 0 THEN 'und'
        |           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_it THEN 'en'
        |           WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_it THEN 'de'
        |           WHEN s_fr >= s_es AND s_fr >= s_it THEN 'fr'
        |           WHEN s_es >= s_it THEN 'es'
        |           ELSE 'it'
        |         END AS lang_pred
        |  FROM s)
        |SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  private def qTokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id").as("id"),
        tokenCount(col("text")).cast("long").as("n_tokens_ws"),
        regexTokenCount(col("text")).cast("long").as("n_tokens_re"))
      .orderBy("id")
  row("q_token_count", qTokenCount)(
      """SELECT doc_id AS id,
        |       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                            x -> len(x) > 0)) AS BIGINT) AS n_tokens_ws,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+'))
        |            + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)
        |         AS n_tokens_re
        |FROM documents ORDER BY id""".stripMargin)

  /** Intra-document repetition ratio (the Gopher-class quality signal): the
    * fraction of word-3-gram occurrences that repeat an earlier gram of the
    * SAME document, 1 − distinct/total. High values flag boilerplate, spam,
    * and degenerate generations; pure per-row math — scales as a scan.
    */
  private def qRepetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id").as("id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        size(wordShingles(col("text"), 3)).cast("long").as("n_distinct"))
      .select(
        col("id"), col("n_tokens"),
        when(col("n_tokens") < 3, lit(0.0))
          .otherwise(round(
            lit(1.0) - col("n_distinct").cast("double") /
              (col("n_tokens") - 2).cast("double"), 6))
          .as("rep_frac"))
      .orderBy("id")
  // q_repetition: the gram builder mirrors q_ngram_jaccard's sh CTE
  // (lowercase, \s+ tokens, distinct 3-grams); total grams = n_tokens - 2
  row("q_repetition", qRepetition)(
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents)
        |SELECT doc_id AS id,
        |       CAST(len(t) AS BIGINT) AS n_tokens,
        |       CASE WHEN len(t) < 3 THEN 0.0
        |            ELSE ROUND(1.0 -
        |              CAST(len(list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                                      for i in generate_series(1, len(t) - 2)]))
        |                   AS DOUBLE) / CAST(len(t) - 2 AS DOUBLE), 6)
        |       END AS rep_frac
        |FROM tok ORDER BY id""".stripMargin)

  private def qFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id").as("id"),
        rollingFingerprint(col("text")).as("fingerprint"))
      .orderBy("id")
  row("q_fingerprint", qFingerprint)(
      """SELECT doc_id AS id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY id""".stripMargin)

  /** PII scrub over the corpus: redacted text + did-anything-change flag. */
  private def qRedact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id").as("id"),
        TextAnalysis.redactPii(col("text")).as("clean_text"))
      .withColumn("changed",
        (col("clean_text") rlike "<EMAIL>|<PHONE>|<ID>").cast("int").cast("long"))
      .orderBy("id")
  row("q_redact", qRedact)(
      """WITH r AS (
        |  SELECT doc_id AS id,
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(text,
        |               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |             '[0-9]{9,}', '<ID>', 'g'),
        |           '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
        |  FROM documents)
        |SELECT id, clean_text,
        |       CAST(CASE WHEN regexp_matches(clean_text, '<EMAIL>|<PHONE>|<ID>')
        |                 THEN 1 ELSE 0 END AS BIGINT) AS changed
        |FROM r ORDER BY id""".stripMargin)

  /** Sliding-window chunking — one row per (doc, token window). */
  private def qChunkDocs(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
        chunkSize = 64, stride = 48)
      .select(col("id"), col("chunk_idx"), col("n_chunk_tokens"),
        substring(col("chunk_text"), 1, 40).as("chunk_head"))
      .orderBy("id", "chunk_idx")
  row("q_chunk_docs", qChunkDocs)(
      """WITH tk AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |nz AS (SELECT * FROM tk WHERE len(t) > 0),
        |x AS (
        |  SELECT id, t,
        |         unnest(generate_series(0, CAST(floor((len(t) - 1) / 48) AS BIGINT)))
        |           AS chunk_idx
        |  FROM nz),
        |c AS (
        |  SELECT id, chunk_idx,
        |         t[1 + chunk_idx * 48 : least(chunk_idx * 48 + 64, len(t))] AS chunk
        |  FROM x)
        |SELECT id, chunk_idx,
        |       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
        |       substr(array_to_string(chunk, ' '), 1, 40) AS chunk_head
        |FROM c ORDER BY id, chunk_idx""".stripMargin)

  /** Boilerplate detection: per-document fraction of word-8-gram spans
    * that also occur in ANOTHER document — the repeated-header/footer
    * signal a curation pipeline thresholds to strip templated content.
    * Same counting-only inverted-index shape as the Jaccard family: spans
    * are distinct within a doc ([[GraftFunctions.wordShingles]]), so the
    * span's group count IS its document frequency; only the 8-byte span
    * hash crosses the shuffle, never the text. The oracle reproduces the
    * shingling with raw strings — hash collisions would show up as a
    * value mismatch, so the gate also audits the hashing assumption.
    */
  private def qBoilerplate(s: SparkSession, d: String): DataFrame = {
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), explode(wordShingles(col("text"), 8)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("g_h"))
    val docFreq = spans.groupBy("g_h").agg(count(lit(1)).as("df"))
    spans.join(docFreq, "g_h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, lit(1L)).otherwise(lit(0L))).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_spans").cast("double"), 6))
      .orderBy("doc_id")
  }
  row("q_boilerplate", qBoilerplate)(
      """WITH sh AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |                ELSE list_distinct([array_to_string(t[i:i+7], ' ')
        |                                    for i in generate_series(1, len(t) - 7)])
        |                END) AS g
        |  FROM (SELECT doc_id,
        |               list_filter(string_split_regex(lower(text), '\s+'),
        |                           x -> len(x) > 0) AS t
        |        FROM documents)),
        |df AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g)
        |SELECT sh.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_shared,
        |       ROUND(CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS shared_frac
        |FROM sh JOIN df USING (g)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin)

  /** Deterministic per-source sequence packing into 512-token bins. */
  private def qPackSequences(s: SparkSession, d: String): DataFrame =
    TextAnalysis.packSequences(Tables.documents(s, d), "source", "doc_id", "text",
        capacity = 512)
      .groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy("grp", "bin")
  row("q_pack_sequences", qPackSequences)(
      """WITH d AS (
        |  SELECT source AS grp, doc_id AS id,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT grp, id, n_tokens,
        |             SUM(n_tokens) OVER (PARTITION BY grp ORDER BY id
        |                                 ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM d)
        |SELECT grp, CAST(FLOOR((cum - n_tokens) / 512) AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY grp, bin ORDER BY grp, bin""".stripMargin)

  /** Corpus ASSEMBLY offsets — the byte/char-offset map a pretraining
    * pipeline materializes when it concatenates documents (doc-id order,
    * one separator char) into a flat training stream: each doc's global
    * start offset, so any sample index maps back to its source document
    * (the provenance lookup audits and dedup-tracing need). The global
    * running total rides [[PrefixSum.exclusive]] — per-bucket prefix
    * windows plus a carry over the bucket-total table — never a
    * single-partition ROW_NUMBER/SUM window over the corpus. The bucket
    * WIDTH is derived from the observed id range (max_doc_id / 1024,
    * floor 1) so the carry table is capped at ~1025 rows no matter the
    * corpus size — PrefixSum's data-independent bucket-count contract
    * held by construction, not by a constant that happens to fit the
    * test SFs. The max() probe is one columnar-stats-cheap scalar job;
    * bucketing never changes the prefix values, only the decomposition,
    * so the oracle is width-independent. Exact integer lengths end to end.
    */
  private def qCorpusOffsets(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        (length(col("text")).cast("long") + 1L).as("n_chars"))
    // max() over an empty corpus is SQL NULL — fall back to width 1
    // rather than NPE (the probe itself stays one columnar-stats scalar job)
    val maxId = Option(docs.agg(max(col("doc_id"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val width = math.max(1L, maxId / 1024L)
    PrefixSum.exclusive(docs, expr(s"doc_id div ${width}L"),
        Seq(col("doc_id")), col("n_chars"), "offset")
      .select(col("doc_id"), col("n_chars"), col("offset"))
      .orderBy("doc_id")
  }
  // q_corpus_offsets: the bucketed prefix sum replayed as one running
  // window (fine at oracle scale)
  row("q_corpus_offsets", qCorpusOffsets)(
      """SELECT doc_id,
        |       CAST(LENGTH(text) + 1 AS BIGINT) AS n_chars,
        |       CAST(COALESCE(SUM(LENGTH(text) + 1) OVER (
        |              ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS BIGINT) AS offset
        |FROM documents ORDER BY doc_id""".stripMargin)
}
