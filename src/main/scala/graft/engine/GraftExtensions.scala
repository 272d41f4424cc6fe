package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.NativeExpressions._

/** `SparkSessionExtensions` installer exposing the engine's native
  * expressions to SQL, so the library is usable from pure `spark.sql(...)`
  * (and from any SQL-only client) as well as the Column API:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * // or: spark.sql.extensions=graft.engine.GraftExtensions
  * spark.sql("SELECT graft_simhash64(graft_tokenize(text)) FROM docs")
  * }}}
  *
  * Registered: graft_minhash_sig(arr, n), graft_simhash64(arr),
  * graft_vec_dot(a, b), graft_hyperplane_bits(vec, planes),
  * graft_chunk_keys(sig, totalBits, chunks), graft_char_shingles(text, k),
  * graft_word_shingles(text, n), graft_tokenize(text),
  * graft_bounded_levenshtein(a, b, k), graft_deletion_hashes(s, k),
  * graft_array_count_eq(arr, term).
  *
  * Planner: `TopKPerKeyStrategy` with its optimizer rule `RankLimitRule`
  * (per-key top-k as one heap pass), `DriverMergeStrategy` (a
  * grouping-free aggregate merges its partial rows on the driver, with no
  * `Exchange SinglePartition` stage), and the columnar rule
  * `ColumnarCacheRead` (whole-stage codegen reads cached primitive columns
  * as vectors).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // shared with GraftFunctions' temp-function path — both registration
  // paths fail identically and informatively through one definition
  private def intArg(e: Expression, fn: String): Int =
    literalInt(e, fn)

  private def entry(
      name: String,
      usage: String,
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.NativeExpressions", name), builder)

  def apply(e: SparkSessionExtensions): Unit = {
    // Operator tier: the per-key top-k planner strategy plus the optimizer
    // rule that rewrites `filter(row_number() over (...) <= k)` onto it —
    // a full sort per key group becomes one O(n log k) heap pass.
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    e.injectOptimizerRule(_ => graft.plans.RankLimitRule)
    // A grouping-free aggregate's partial rows are added on the driver, as
    // the reference's host adds each DPU's partial sum: one job, no
    // single-partition exchange.
    e.injectPlannerStrategy(_ => graft.plans.DriverMergeStrategy)
    // Scan tier: a cached scan whose parent fuses into whole-stage codegen
    // is read as column vectors, not assembled into one UnsafeRow per row.
    e.injectColumnar(_ => graft.plans.ColumnarCacheRead)
    e.injectFunction(entry("graft_minhash_sig",
      "graft_minhash_sig(shingles, numHashes) - MinHash signature (array<long>)",
      args => MinHashSig(args(0), intArg(args(1), "graft_minhash_sig"))))
    e.injectFunction(entry("graft_simhash64",
      "graft_simhash64(tokens) - packed 64-bit SimHash",
      args => SimHash64(args(0))))
    e.injectFunction(entry("graft_vec_dot",
      "graft_vec_dot(a, b) - dot product of two double arrays",
      args => VecDot(args(0), args(1))))
    e.injectFunction(entry("graft_hyperplane_bits",
      "graft_hyperplane_bits(vec, planes) - packed hyperplane-LSH signature",
      args => HyperplaneBits(args(0), intArg(args(1), "graft_hyperplane_bits"))))
    e.injectFunction(entry("graft_chunk_keys",
      "graft_chunk_keys(sig, totalBits, chunks) - per-chunk LSH bucket keys of a packed signature",
      args => ChunkKeys(args(0), intArg(args(1), "graft_chunk_keys"),
        intArg(args(2), "graft_chunk_keys"))))
    e.injectFunction(entry("graft_char_shingles",
      "graft_char_shingles(text, k) - distinct char k-shingles of lower(trim(text))",
      args => CharShingles(args(0), intArg(args(1), "graft_char_shingles"))))
    e.injectFunction(entry("graft_word_shingles",
      "graft_word_shingles(text, n) - distinct word n-grams of lower(text)",
      args => WordShingles(args(0), intArg(args(1), "graft_word_shingles"))))
    e.injectFunction(entry("graft_tokenize",
      "graft_tokenize(text) - whitespace tokens, empties dropped",
      args => Tokenize(args(0))))
    e.injectFunction(entry("graft_bounded_levenshtein",
      "graft_bounded_levenshtein(a, b, k) - banded edit distance, clamped to k+1",
      args => BoundedLevenshtein(args(0), args(1),
        intArg(args(2), "graft_bounded_levenshtein"))))
    e.injectFunction(entry("graft_deletion_hashes",
      "graft_deletion_hashes(s, k) - sorted distinct hashes of all <=k-deletion variants",
      args => DeletionHashes(args(0), intArg(args(1), "graft_deletion_hashes"))))
    e.injectFunction(entry("graft_array_count_eq",
      "graft_array_count_eq(arr, term) - count of array<string> elements equal to the literal term",
      args => ArrayCountEq(args(0), strArg(args(1), "graft_array_count_eq"))))
  }

  private def strArg(e: Expression, fn: String): String =
    literalString(e, fn)
}
