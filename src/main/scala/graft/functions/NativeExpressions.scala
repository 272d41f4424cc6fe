package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot inner loops of the dedup /
  * similarity operators (SURVEY §4.3's "custom Expression" tier).
  *
  * Rationale: the pure-`functions._` formulations of minhash / simhash /
  * dot-product are higher-order-function trees that the interpreter
  * re-evaluates per (seed × element) — a 64-hash signature costs 64·|set|
  * hash evaluations, and `CollapseProject` inlines any intermediate column
  * so no DataFrame-level staging avoids it. Each expression below is one
  * tight JVM loop per row: a shingle is hashed exactly twice for a full
  * 64-element MinHash signature, a token once for SimHash.
  *
  * `CodegenFallback` is deliberate: the loop body is compiled Scala; the
  * interpreted boundary costs one virtual call per row, negligible against
  * the per-element work it replaces.
  */
object NativeExpressions {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  /** Literal-argument extractors shared by BOTH function-registration
    * paths (GraftExtensions' injectFunction and GraftFunctions'
    * temp-function registry), so a bad argument fails with the SAME
    * descriptive error everywhere — one definition, no drift.
    */
  def literalInt(e: Expression, fn: String): Int = e match {
    // only integral literal values qualify: a fractional literal (e.g.
    // graft_char_shingles(text, 2.5)) must raise the descriptive error,
    // not silently truncate through Number.intValue() (ADVICE r10)
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _)
        if v != null && v.doubleValue() == v.intValue().toDouble =>
      v.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got: $other")
  }

  def literalString(e: Expression, fn: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, _)
        if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string argument, got: $other")
  }

  private val P31 = 2147483647L // 2^31 - 1, prime

  /** Analysis-time type gate shared by the SQL-registered expressions: a
    * wrong-typed argument through `graft_*(...)` must fail analysis with a
    * clear message, not throw ClassCastException per row on executors.
    */
  private def typeGate(ok: Boolean, fn: String, want: String, got: DataType)
      : TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn requires $want, got ${got.catalogString}")

  private def isStringArray(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** MinHash signature of an array<string> shingle set, via the two-hash
    * permutation family h_i = (h1 + i·h2) mod p (h1,h2 = xxhash64 with
    * seeds 0/1). Output: array<long> of length `numHashes`; empty input →
    * all zeros (joinable, never null).
    */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    // matches HyperplaneBits' planes guard: misuse (e.g. SQL
    // graft_minhash_sig(arr, 0)) fails at construction, not per-row in the
    // all-null sentinel's mins(0) read
    require(numHashes > 0, s"numHashes must be > 0, got $numHashes")
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(isStringArray(child.dataType), "graft_minhash_sig",
        "ARRAY<STRING>", child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var j = 0
      while (j < n) {
        val s = arr.getUTF8String(j)
        if (s != null) { // skip null elements, don't NPE
          val h1 = java.lang.Long.remainderUnsigned(XXH64.hashUTF8String(s, 0L), P31)
          val h2 = java.lang.Long.remainderUnsigned(XXH64.hashUTF8String(s, 1L), P31 - 1) + 1L
          var i = 0
          var h = h1
          while (i < numHashes) {
            if (h < mins(i)) mins(i) = h
            h += h2
            if (h >= P31) h -= P31
            i += 1
          }
        }
        j += 1
      }
      // empty OR all-null input → all-zeros signature (any real element
      // writes every slot: hashes are mod P31 < Long.MaxValue)
      if (mins(0) == Long.MaxValue) java.util.Arrays.fill(mins, 0L)
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  }

  /** 64-bit SimHash of an array<string> token set, packed into one long:
    * bit b of the result = sign of Σ_tokens (bit b of xxhash64(token) ? +1 : -1).
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(isStringArray(child.dataType), "graft_simhash64",
        "ARRAY<STRING>", child.dataType)
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val counts = new Array[Int](64)
      var j = 0
      while (j < n) {
        val s = arr.getUTF8String(j)
        if (s != null) { // skip null elements, don't NPE
          val h = XXH64.hashUTF8String(s, 0L)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        j += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) sig |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(sig)
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** Dot product of two array<double> vectors (null if lengths differ). */
  /** Fully codegen'd (no CodegenFallback): the dot product sits in the
    * per-pair inner loop of the quadratic cosine scans, where even one
    * interpreted virtual call per row is measurable. The generated loop is
    * the same sequential fold as the interpreted path — bit-identical
    * results (and DuckDB `list_dot_product` parity) preserved.
    */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(isDoubleArray(left.dataType) && isDoubleArray(right.dataType),
        "graft_vec_dot", "two ARRAY<DOUBLE> arguments",
        if (isDoubleArray(left.dataType)) right.dataType else left.dataType)
    override def dataType: DataType = DoubleType
    // may yield null on length mismatch even for non-null inputs: the
    // codegen null flag must be a mutable local, not the literal `false`
    override def nullable: Boolean = true
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        s"""
           |final int $n = $a.numElements();
           |if ($b.numElements() != $n) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += $a.getDouble($i) * $b.getDouble($i);
           |  }
           |  ${ev.value} = $acc;
           |}
         """.stripMargin
      })
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (b.numElements() != n) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += a.getDouble(i) * b.getDouble(i)
        i += 1
      }
      java.lang.Double.valueOf(acc)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
      copy(left = l, right = r)
  }

  /** Count of common elements of two SORTED long arrays via a two-pointer
    * merge — the hot inner loop of the banded exact-Jaccard audit
    * ([[graft.ext.Dedup.charJaccardPairs]]), where millions of candidate
    * pairs each intersect ~300-element shingle-hash arrays. Spark's
    * `array_intersect` builds a boxed hash set PER PAIR (measured ~15 µs);
    * this merge is ~600 primitive compares, fully codegen'd so the banded
    * join stays one whole-stage loop. Duplicate elements (not produced by
    * the distinct-shingle callers) count once, matching set semantics.
    * Inputs MUST be sorted ascending — callers sort once per document,
    * amortized over every pair the document appears in.
    *
    * `minJaccard` ≥ 0 arms an EARLY-EXIT gate: J(A,B) ≥ t requires
    * |A∩B| ≥ ⌈t·(|A|+|B|)/(1+t)⌉, and during the merge the count can
    * reach at most `c + min(remaining_a, remaining_b)` — once that upper
    * bound drops below the requirement the pair provably misses the
    * threshold and the expression returns −1 (a sentinel the caller
    * filters; most candidate pairs are non-matches that bail ~halfway).
    * Counts actually RETURNED (≥ 0) are always exact, so emitted pairs'
    * jaccard values are unaffected by the gate.
    */
  /** Count of ARRAY<STRING> elements equal to a compile-time term — the
    * tf(term) inner loop of the BM25-family rows. The HOF formulation
    * `size(filter(toks, x => x === lit(term)))` dispatches an interpreted
    * lambda per ELEMENT; this is one codegen'd `UTF8String.equals` loop,
    * run 3 terms × every token of the corpus in `q_bm25` /
    * `q_hybrid_fusion`. Null elements (not produced by the tokenizer)
    * don't match.
    */
  case class ArrayCountEq(child: Expression, term: String)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(isStringArray(child.dataType),
        "graft_array_count_eq", "an ARRAY<STRING> argument", child.dataType)
    override def dataType: DataType = IntegerType
    @transient private lazy val termUtf8 = UTF8String.fromString(term)
    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      var c = 0
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i) && a.getUTF8String(i) == termUtf8) c += 1
        i += 1
      }
      java.lang.Integer.valueOf(c)
    }
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val t = ctx.addReferenceObj("graftTerm", termUtf8,
          "org.apache.spark.unsafe.types.UTF8String")
        val n = ctx.freshName("n")
        val c = ctx.freshName("c")
        val i = ctx.freshName("i")
        s"""
           |final int $n = $a.numElements();
           |int $c = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if (!$a.isNullAt($i) && $a.getUTF8String($i).equals($t)) $c++;
           |}
           |${ev.value} = $c;
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): ArrayCountEq =
      copy(child = c)
  }

  case class SortedIntersectCount(
      left: Expression, right: Expression, minJaccard: Double = -1.0)
      extends BinaryExpression {
    private def isLongArray(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(isLongArray(left.dataType) && isLongArray(right.dataType),
        "graft_sorted_intersect_count", "two ARRAY<BIGINT> arguments",
        if (isLongArray(left.dataType)) right.dataType else left.dataType)
    override def dataType: DataType = IntegerType
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c"); val need = ctx.freshName("need")
        val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
        val cur = ctx.freshName("cur"); val rem = ctx.freshName("rem")
        val gate =
          if (minJaccard < 0) ""
          else
            s"""
               |final int $rem = ($na - $i) < ($nb - $j) ? ($na - $i) : ($nb - $j);
               |if ($c + $rem < $need) { $c = -1; break; }
             """.stripMargin
        val needInit =
          if (minJaccard < 0) s"final int $need = 0;"
          else s"final int $need = (int) Math.ceil($minJaccard * ($na + $nb) / (1.0 + $minJaccard));"
        s"""
           |final int $na = $a.numElements();
           |final int $nb = $b.numElements();
           |$needInit
           |int $i = 0, $j = 0, $c = 0;
           |while ($i < $na && $j < $nb) {
           |  $gate
           |  final long $va = $a.getLong($i);
           |  final long $vb = $b.getLong($j);
           |  if ($va < $vb) { $i++; }
           |  else if ($va > $vb) { $j++; }
           |  else {
           |    $c++;
           |    final long $cur = $va;
           |    while ($i < $na && $a.getLong($i) == $cur) { $i++; }
           |    while ($j < $nb && $b.getLong($j) == $cur) { $j++; }
           |  }
           |}
           |${ev.value} = $c;
         """.stripMargin
      })
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val na = a.numElements(); val nb = b.numElements()
      val need =
        if (minJaccard < 0) 0
        else math.ceil(minJaccard * (na + nb) / (1.0 + minJaccard)).toInt
      var i = 0; var j = 0; var c = 0
      while (i < na && j < nb && c >= 0) {
        if (minJaccard >= 0 && c + math.min(na - i, nb - j) < need) c = -1
        else {
          val va = a.getLong(i); val vb = b.getLong(j)
          if (va < vb) i += 1
          else if (va > vb) j += 1
          else {
            c += 1
            while (i < na && a.getLong(i) == va) i += 1
            while (j < nb && b.getLong(j) == va) j += 1
          }
        }
      }
      java.lang.Integer.valueOf(c)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression)
        : SortedIntersectCount = copy(left = l, right = r)
  }

  /** Random-hyperplane signature of an array<double> vector packed into a
    * long: bit p = [Σ_d v(d)·r(p,d) ≥ 0] with r(p,d) = ±1 derived from
    * xxhash64(d, seed=p). `planes` ≤ 64.
    *
    * Fully codegen'd (no CodegenFallback): the signature sits in the
    * per-row scan filter of every LSH query, and a fallback here ejects
    * the whole filter from whole-stage codegen (interpreted eval, boxed
    * rows). The generated loop folds in the same element order as the
    * interpreted path — bit-identical signatures.
    */
  case class HyperplaneBits(child: Expression, planes: Int)
      extends UnaryExpression {
    require(planes > 0 && planes <= 64)
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(isDoubleArray(child.dataType), "graft_hyperplane_bits",
        "ARRAY<DOUBLE>", child.dataType)
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = v.numElements()
      var sig = 0L
      var p = 0
      while (p < planes) {
        var acc = 0.0
        var d = 0
        while (d < n) {
          val sign = if ((XXH64.hashLong(d.toLong, p.toLong) & 1L) == 1L) 1.0 else -1.0
          acc += v.getDouble(d) * sign
          d += 1
        }
        if (acc >= 0) sig |= (1L << p)
        p += 1
      }
      java.lang.Long.valueOf(sig)
    }
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val xxh = classOf[XXH64].getName
        val n = ctx.freshName("n")
        val sig = ctx.freshName("sig")
        val p = ctx.freshName("p")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        val sign = ctx.freshName("sign")
        s"""
           |final int $n = $v.numElements();
           |long $sig = 0L;
           |for (int $p = 0; $p < $planes; $p++) {
           |  double $acc = 0.0;
           |  for (int $d = 0; $d < $n; $d++) {
           |    final double $sign =
           |      (($xxh.hashLong((long) $d, (long) $p) & 1L) == 1L) ? 1.0 : -1.0;
           |    $acc += $v.getDouble($d) * $sign;
           |  }
           |  if ($acc >= 0) $sig |= (1L << $p);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): HyperplaneBits = copy(child = c)
  }

  /** Per-chunk bucket keys of a packed LSH signature: key c =
    * xxhash64(c, (sig >>> c·k) & mask) for the `chunks` contiguous k-bit
    * chunks of `totalBits`. Bit-compatible with the Column formula it
    * replaces (`xxhash64(lit(c), chunk)`: int-then-long chaining from seed
    * 42), but the signature child appears ONCE in the expression tree —
    * the Column version inlined the signature per chunk, so a collapsed
    * projection recomputed the whole hyperplane loop `chunks` times per
    * row. Codegen'd for the same reason as [[HyperplaneBits]].
    */
  case class ChunkKeys(child: Expression, totalBits: Int, chunks: Int)
      extends UnaryExpression {
    require(chunks > 0 && totalBits >= chunks,
      s"need totalBits ($totalBits) >= chunks ($chunks) > 0 so every chunk " +
        "spans at least one bit")
    // floor division: when totalBits is not a multiple of chunks the top
    // totalBits % chunks bits are simply never hashed — harmless for the
    // LSH contract (ignoring bits can only ADD candidates, and the
    // pigeonhole completeness argument needs only `chunks` disjoint spans;
    // every candidate is verified exactly downstream), and bit-compatible
    // with the pre-native column formula for the divisible cases every
    // catalog query uses
    private val k = totalBits / chunks
    // k >= 64: (1L << 64) wraps to 1 (JVM shifts are mod 64) and the mask
    // would zero every key; -1L is the correct all-bits mask
    private val mask = if (k >= 64) -1L else (1L << k) - 1
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(child.dataType == LongType, "graft_chunk_keys",
        "BIGINT", child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val sig = input.asInstanceOf[Long]
      val out = new Array[Long](chunks)
      var c = 0
      while (c < chunks) {
        out(c) = XXH64.hashLong((sig >>> (c * k)) & mask, XXH64.hashInt(c, 42L))
        c += 1
      }
      new GenericArrayData(out)
    }
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, sig => {
        val xxh = classOf[XXH64].getName
        val out = ctx.freshName("out")
        val c = ctx.freshName("c")
        s"""
           |final long[] $out = new long[$chunks];
           |for (int $c = 0; $c < $chunks; $c++) {
           |  $out[$c] = $xxh.hashLong(
           |    ($sig >>> ($c * $k)) & ${mask}L, $xxh.hashInt($c, 42L));
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): ChunkKeys = copy(child = c)
  }

  /** Distinct character k-shingles of `lower(trim(text))`; shorter-than-k
    * input yields one shingle (the whole text) so no document is dropped.
    */
  case class CharShingles(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(child.dataType == StringType, "graft_char_shingles",
        "STRING", child.dataType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val t = input.asInstanceOf[UTF8String].toString.trim.toLowerCase
      val out =
        if (t.length < k) Array(UTF8String.fromString(t))
        else {
          val seen = new java.util.LinkedHashSet[String](t.length * 2)
          var i = 0
          while (i + k <= t.length) {
            seen.add(t.substring(i, i + k))
            i += 1
          }
          val arr = new Array[AnyRef](seen.size)
          val it = seen.iterator()
          var j = 0
          while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
          arr.asInstanceOf[Array[AnyRef]]
        }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): CharShingles = copy(child = c)
  }

  /** Distinct word n-grams (space-joined) over the whitespace tokens of
    * `lower(text)`; fewer-than-n tokens yield one shingle (all tokens
    * joined), empty text yields a single empty shingle.
    */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(child.dataType == StringType, "graft_word_shingles",
        "STRING", child.dataType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[UTF8String].toString.toLowerCase
        .split("\\s+").filter(_.nonEmpty)
      val grams =
        if (toks.length < n) Array(toks.mkString(" "))
        else {
          val seen = new java.util.LinkedHashSet[String](toks.length * 2)
          var i = 0
          while (i + n <= toks.length) {
            seen.add(toks.slice(i, i + n).mkString(" "))
            i += 1
          }
          seen.toArray(new Array[String](0))
        }
      new GenericArrayData(grams.map(UTF8String.fromString(_): AnyRef))
    }
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  }

  /** Engine-portable simhash over an array<string> of tokens, one pass per
    * document (r19): per token, the 60-bit md5-prefix fingerprint — the
    * exact value of `conv(substring(md5(t), 1, 15), 16, 10)`, i.e. the
    * digest's first 8 bytes read big-endian then shifted right 4 — feeds
    * ±1 bit-counters; output bit b is set iff its counter ≥ 0. Bit-for-bit
    * the fold `Dedup.portableSimhashSigs` previously composed from an
    * explode + 60 conditional sums + a doc-keyed exchange: the aggregate
    * shuffled one 60-long row per document, this computes the signature
    * where the document already is — no exchange, no 60-column aggregate
    * state. Empty token arrays yield NULL (the caller drops them — the
    * "zero tokens carry no signature" contract).
    */
  case class PortableSimhash(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback {
    require(bits >= 1 && bits <= 60,
      "portable md5-prefix signatures carry at most 60 bits")
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(
        child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == StringType,
        "graft_portable_simhash", "ARRAY<STRING>", child.dataType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](bits)
      var i = 0
      while (i < n) {
        val tok = arr.getUTF8String(i)
        if (tok == null) {
          // a NULL token votes -1 on every bit — exactly what the SQL
          // 60-sum fold this expression replaces computed (its per-bit
          // CASE yields NULL → the conditional sum counts it on neither
          // side, i.e. the "0 bit" branch wins); ADVICE r19: the only
          // in-tree caller feeds Tokenize output (containsNull=false),
          // but the public portable_simhash helper must not NPE.
          var b = 0
          while (b < bits) { counts(b) -= 1; b += 1 }
        } else {
          val d = md.digest(tok.getBytes)
          var top = 0L
          var j = 0
          while (j < 8) { top = (top << 8) | (d(j) & 0xffL); j += 1 }
          val h = top >>> 4
          var b = 0
          while (b < bits) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < bits) {
        if (counts(b) >= 0) sig |= 1L << b
        b += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): PortableSimhash = copy(child = c)
  }

  /** Adjacent lowercase-alphabetic character pairs — the BPE merge-candidate
    * extraction (`catalog.TextLlm.qBpeMerges`), one tight loop per document.
    * Exactly `filter(transform(sequence(1, length(t)-1),
    * i -> lower(substr(t, i, 2))), p -> p rlike '^[a-z]{2}$')`: for every
    * adjacent code-point pair, the lowercased 2-char slice is emitted iff
    * it is exactly two [a-z] characters — duplicates kept, document order
    * kept. The HOF formulation walked an interpreted predicate tree (or a
    * regex matcher) per position — ~1.5M evaluations at sf0.1, all in the
    * scan's single task; here an all-ASCII document (the overwhelmingly
    * common case, detected by one byte scan) lowercases and range-checks
    * raw bytes and allocates only on match, and documents with multibyte
    * code points take the exact generic path (UTF8String substring +
    * toLowerCase per pair), so the unicode edge cases — multi-char
    * lowercase expansions like İ, non-ASCII letters that lower into
    * ASCII like the Kelvin sign — keep the regex's semantics.
    *
    * LOCALE NOTE (ADVICE r19): the generic path lowercases via
    * `UTF8String.toLowerCase`, which for non-ASCII strings delegates to
    * Java's DEFAULT-LOCALE `toLowerCase` — under a Turkish default locale
    * an 'I' adjacent to a multibyte character lowers to dotless 'ı' and
    * the pair is dropped. This dependency is INHERITED from Spark's own
    * `lower()` (the HOF formulation this expression mirrors behaves
    * identically), so equivalence with the reference formulation holds on
    * any locale — but results are locale-contingent for such inputs. Pin
    * the JVM locale (-Duser.language=en) where cross-box bit-stability of
    * non-ASCII corpora matters.
    */
  case class BpePairs(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(child.dataType == StringType, "graft_bpe_pairs",
        "STRING", child.dataType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val bytes = s.getBytes
      var ascii = true
      var i = 0
      while (ascii && i < bytes.length) {
        if ((bytes(i) & 0x80) != 0) ascii = false
        i += 1
      }
      val out = new java.util.ArrayList[AnyRef]
      if (ascii) {
        i = 0
        while (i + 1 < bytes.length) {
          var c1 = bytes(i); var c2 = bytes(i + 1)
          if (c1 >= 'A' && c1 <= 'Z') c1 = (c1 + 32).toByte
          if (c2 >= 'A' && c2 <= 'Z') c2 = (c2 + 32).toByte
          if (c1 >= 'a' && c1 <= 'z' && c2 >= 'a' && c2 <= 'z')
            out.add(UTF8String.fromBytes(Array(c1, c2)))
          i += 1
        }
      } else {
        val n = s.numChars()
        i = 0
        while (i + 1 < n) {
          val lower = s.substring(i, i + 2).toLowerCase
          val lb = lower.getBytes
          if (lb.length == 2 &&
              lb(0) >= 'a' && lb(0) <= 'z' && lb(1) >= 'a' && lb(1) <= 'z')
            out.add(lower)
          i += 1
        }
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(c: Expression): BpePairs = copy(child = c)
  }

  /** Adjacent-token bigram pairs of an array<string> as
    * array<struct<w1,w2>> — one tight loop per document. Exactly
    * `zip_with(slice(t, 1, n-1), slice(t, 2, n-1), (a, b) -> struct(a, b))`
    * (empty for n < 2): the HOF formulation allocated two slice copies and
    * dispatched an interpreted lambda per element, per document, inside
    * the Generate (outside whole-stage codegen). Order and duplicates
    * preserved; a null token element passes through as a null field, like
    * the slices it mirrors. A NULL array gives NULL, where the formulation
    * it replaced gave `[]` (see [[bigram_pairs]]).
    */
  case class BigramPairs(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(isStringArray(child.dataType), "graft_bigram_pairs",
        "ARRAY<STRING>", child.dataType)
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("w1", StringType, nullable = true),
        StructField("w2", StringType, nullable = true))),
      containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < 2) return new GenericArrayData(new Array[AnyRef](0))
      val out = new Array[AnyRef](n - 1)
      var i = 0
      var prev = arr.getUTF8String(0)
      while (i < n - 1) {
        val next = arr.getUTF8String(i + 1)
        out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](prev, next))
        prev = next
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): BigramPairs =
      copy(child = c)
  }

  /** Hashing-trick term-frequency vector over an array<string> of tokens:
    * bucket = xxhash64(token) mod dims, value = count, L2-normalized —
    * a deterministic, model-free text embedding (the classic HashingTF),
    * one pass per row. Empty input → zero vector.
    */
  case class HashingTf(child: Expression, dims: Int)
      extends UnaryExpression with CodegenFallback {
    require(dims > 0)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val v = new Array[Double](dims)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 0L)
        v(java.lang.Math.floorMod(h, dims.toLong).toInt) += 1.0
        i += 1
      }
      var norm = 0.0
      var j = 0
      while (j < dims) { norm += v(j) * v(j); j += 1 }
      if (norm > 0) {
        val inv = 1.0 / math.sqrt(norm)
        j = 0
        while (j < dims) { v(j) *= inv; j += 1 }
      }
      new GenericArrayData(v)
    }
    override protected def withNewChildInternal(c: Expression): HashingTf = copy(child = c)
  }

  /** ENGINE-PORTABLE hashing-TF vector: bucket = first 12 hex chars of the
    * md5 of each unit, i.e. the digest's first 6 bytes as an unsigned
    * 48-bit big-endian integer, mod `dims` — bit-identical to the SQL
    * recipe `pmod(conv(substring(md5(u),1,12),16,10), dims)` that DuckDB
    * (or any engine with md5) reproduces, unlike [[HashingTf]]'s xxhash.
    * Weights are raw counts (NOT L2-normalized): integer-valued doubles
    * keep every downstream dot product and norm an exact cross-engine sum.
    * One digest per unit in a single pass — the SQL-composed formulation
    * (explode → md5 → group-by → map → transform) re-derived this whole
    * subtree at every self-join reference, ~6 evaluations per pair query.
    */
  case class PortableHashingTf(child: Expression, dims: Int)
      extends UnaryExpression with CodegenFallback {
    require(dims > 0)
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(isStringArray(child.dataType), "graft_portable_tf",
        "ARRAY<STRING>", child.dataType)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val v = new Array[Double](dims)
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // first 6 digest bytes = first 12 hex chars, big-endian unsigned
        val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        v((h % dims).toInt) += 1.0
        i += 1
      }
      new GenericArrayData(v)
    }
    override protected def withNewChildInternal(c: Expression): PortableHashingTf =
      copy(child = c)
  }

  /** Whitespace tokens of the input string (empty → empty array). */
  case class Tokenize(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(child.dataType == StringType, "graft_tokenize",
        "STRING", child.dataType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[UTF8String].toString
        .split("\\s+").filter(_.nonEmpty)
      new GenericArrayData(toks.map(UTF8String.fromString(_): AnyRef))
    }
    override protected def withNewChildInternal(c: Expression): Tokenize = copy(child = c)
  }

  /** Product-quantization encode: array<double> → `m`-byte code, byte `s` =
    * index of the nearest `centroids(s)(·)` to the vector's s-th sub-space
    * slice. The codebook is driver metadata baked into the expression (the
    * closure-shipping discipline of [[graft.ext.Pq]]); the loop reads
    * `ArrayData` directly — no row decode to `Seq[Double]`, which is what
    * the previous `Dataset.map` encode paid per row.
    */
  case class PqEncode(child: Expression, centroids: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val m = centroids.length
    @transient private lazy val k = centroids(0).length
    @transient private lazy val dsub = centroids(0)(0).length
    override def dataType: DataType = BinaryType
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val code = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cs = centroids(s)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val cent = cs(c)
          var d = 0.0
          var j = 0
          while (j < dsub) {
            val t = arr.getDouble(s * dsub + j) - cent(j)
            d += t * t
            j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        code(s) = best.toByte
        s += 1
      }
      code
    }
    override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
  }

  /** Asymmetric-distance (ADC) lookup: binary PQ code → Σ_s table(s)(code_s),
    * the approximate squared distance to the query the `table` was built
    * from. Rounded to 1e-6 with rint (half-even) for run-to-run stable
    * ordering — must stay bit-identical to the previous Dataset.map scan.
    */
  case class PqAdcDist(child: Expression, table: Array[Array[Double]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(input: Any): Any = {
      val code = input.asInstanceOf[Array[Byte]]
      var d = 0.0
      var s = 0
      while (s < code.length) {
        d += table(s)(java.lang.Byte.toUnsignedInt(code(s)))
        s += 1
      }
      java.lang.Double.valueOf(math.rint(d * 1e6) / 1e6)
    }
    override protected def withNewChildInternal(c: Expression): PqAdcDist = copy(child = c)
  }

  /** Capacity of a DP scratch row that must hold `n` ints: twice the
    * highest one-bit of `n` (amortized growth), or `n` itself from 2^30 up,
    * where doubling would overflow to a negative array size. Never less
    * than `n`.
    */
  private[graft] def scratchCap(n: Int): Int =
    if (n >= (1 << 30)) n else java.lang.Integer.highestOneBit(n) * 2

  /** Largest DP scratch row, in ints, that [[BoundedLevenshtein]] keeps on
    * a thread between calls.
    */
  private[graft] val ScratchRetainInts = 4096

  /** Bounded (banded / Ukkonen) Levenshtein distance: EXACT when the true
    * distance is ≤ `k`, else returns `k+1`. The DP visits only the ±k
    * diagonal band — O(k·n) cells instead of O(n·m) — with an early exit
    * when an entire band row exceeds k, which is what makes a
    * quadratic-within-block fuzzy match affordable: a threshold filter
    * `dist ≤ k` never needs the full distance of far-apart strings (the
    * overwhelming majority of candidate pairs). Distance is over UTF-16
    * code units (== characters for ASCII data, matching other engines'
    * levenshtein there).
    *
    * Codegen'd via a direct call into [[compute]] (not CodegenFallback):
    * this expression sits on the verify path of every candidate pair the
    * blocking emits — orders of magnitude more rows than the output — and
    * a CodegenFallback predicate inside a join condition demotes the whole
    * join operator out of whole-stage codegen. The generated call passes
    * the two UTF8Strings straight to the same kernel the interpreted path
    * runs, so results stay bit-identical.
    */
  case class BoundedLevenshtein(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    require(k >= 0)
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(left.dataType == StringType && right.dataType == StringType,
        "graft_bounded_levenshtein", "two STRING arguments",
        if (left.dataType == StringType) right.dataType else left.dataType)
    override def dataType: DataType = IntegerType
    override def nullSafeEval(l: Any, r: Any): Any =
      Integer.valueOf(compute(
        l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String]))
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("blev", this, classOf[BoundedLevenshtein].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }
    // Per-thread DP scratch rows, grown on demand and REUSED across calls:
    // this kernel runs once per candidate pair (millions per task), and
    // allocating two fresh int rows per call made allocation the contended
    // resource at 32 concurrent tasks — every young-GC pause is charged to
    // ALL running tasks, so task time inflated ~3× at local[32] vs
    // local[8] on identical work (the r19 anti-scaling finding). The
    // expression instance is shared across task threads via codegen's
    // addReferenceObj, hence ThreadLocal, and @transient because
    // ThreadLocal does not serialize (rebuilt lazily per executor).
    // Rows longer than ScratchRetainInts are allocated per call and not
    // kept: one outlier string must not pin its rows on the thread for
    // the executor's lifetime.
    @transient private lazy val dpScratch =
      new ThreadLocal[Array[Array[Int]]] {
        override def initialValue(): Array[Array[Int]] =
          Array(new Array[Int](64), new Array[Int](64))
      }
    private def scratchRows(m: Int): Array[Array[Int]] = {
      if (m + 1 > ScratchRetainInts)
        return Array(new Array[Int](m + 1), new Array[Int](m + 1))
      val s = dpScratch.get()
      if (s(0).length < m + 1) {
        val cap = math.min(scratchCap(m + 1), ScratchRetainInts)
        s(0) = new Array[Int](cap)
        s(1) = new Array[Int](cap)
      }
      s
    }
    /** Ints this thread's DP scratch rows currently hold (the larger row). */
    private[graft] def retainedScratchInts: Int = dpScratch.get().map(_.length).max
    def compute(l: UTF8String, r: UTF8String): Int = {
      // ASCII fast path: compare raw UTF-8 bytes in place (byte length ==
      // char length, byte equality == char equality) — skips two String
      // allocations per call, which matters at millions of candidate
      // pairs per task. Any non-ASCII byte falls back to the identical
      // DP over UTF-16 code units.
      if (isAscii(l) && isAscii(r)) return computeAscii(l, r)
      val a = l.toString
      val b = r.toString
      val n = a.length
      val m = b.length
      val inf = k + 1
      if (math.abs(n - m) > k) return inf
      val s = scratchRows(m)
      var prev = s(0)
      var curr = s(1)
      java.util.Arrays.fill(prev, 0, m + 1, inf)
      var j = 0
      while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
      var i = 1
      while (i <= n) {
        java.util.Arrays.fill(curr, 0, m + 1, inf)
        var rowMin = inf
        if (i <= k) { curr(0) = i; rowMin = i }
        val lo = math.max(1, i - k)
        val hi = math.min(m, i + k)
        var jj = lo
        while (jj <= hi) {
          val sub = if (a.charAt(i - 1) == b.charAt(jj - 1)) prev(jj - 1)
            else prev(jj - 1) + 1
          val v = math.min(inf, math.min(sub, math.min(prev(jj) + 1, curr(jj - 1) + 1)))
          curr(jj) = v
          if (v < rowMin) rowMin = v
          jj += 1
        }
        if (rowMin >= inf) return inf
        val t = prev; prev = curr; curr = t
        i += 1
      }
      math.min(prev(m), inf)
    }
    private def isAscii(s: UTF8String): Boolean = {
      val n = s.numBytes()
      var i = 0
      while (i < n) {
        if (s.getByte(i) < 0) return false
        i += 1
      }
      true
    }
    // same banded DP as the String path, over raw UTF-8 bytes (valid only
    // when both inputs are pure ASCII)
    private def computeAscii(l: UTF8String, r: UTF8String): Int = {
      val n = l.numBytes()
      val m = r.numBytes()
      val inf = k + 1
      if (math.abs(n - m) > k) return inf
      val s = scratchRows(m)
      var prev = s(0)
      var curr = s(1)
      java.util.Arrays.fill(prev, 0, m + 1, inf)
      var j = 0
      while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
      var i = 1
      while (i <= n) {
        java.util.Arrays.fill(curr, 0, m + 1, inf)
        var rowMin = inf
        if (i <= k) { curr(0) = i; rowMin = i }
        val lo = math.max(1, i - k)
        val hi = math.min(m, i + k)
        var jj = lo
        while (jj <= hi) {
          val sub = if (l.getByte(i - 1) == r.getByte(jj - 1)) prev(jj - 1)
            else prev(jj - 1) + 1
          val v = math.min(inf, math.min(sub, math.min(prev(jj) + 1, curr(jj - 1) + 1)))
          curr(jj) = v
          if (v < rowMin) rowMin = v
          jj += 1
        }
        if (rowMin >= inf) return inf
        val t = prev; prev = curr; curr = t
        i += 1
      }
      math.min(prev(m), inf)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): BoundedLevenshtein = copy(left = l, right = r)
  }

  /** All ≤`k`-deletion variants of a string as 64-bit hashes — the
    * symmetric-delete (SymSpell-style) BLOCKING signature for bounded edit
    * distance. Completeness: if lev(a,b) ≤ k (over UTF-16 code units,
    * matching [[BoundedLevenshtein]]), an optimal alignment deletes at most
    * k units from EACH side to reach a common string — every substitution
    * deletes one unit from both, every insert/delete one unit from one — so
    * a and b always share at least one variant hash and an equi-join on the
    * hashes is a complete candidate generator. Hash collisions only ADD
    * candidates; the exact verify removes them.
    *
    * Each variant is hashed in place (seeded polynomial over the surviving
    * code units) — the O(L^k) variant STRINGS are never materialized, and
    * the output array is deduplicated (repeated characters yield equal
    * variants). Output: array<long>, ascending. Cost is O(L^(k+1)) hashing
    * work per row: meant for short identifier-like strings (names, titles,
    * SKUs), not documents — shingle-based families cover those.
    */
  case class DeletionHashes(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 0)
    override def checkInputDataTypes(): TypeCheckResult =
      typeGate(child.dataType == StringType, "graft_deletion_hashes",
        "STRING", child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      // ASCII fast path: one byte = one UTF-16 code unit with the same
      // value, so hashing over the UTF8String's bytes produces the exact
      // hash the char path produces — no per-row String materialization
      // (r19 verdict: this row anti-scaled at 32 threads; allocation rate
      // is the contended resource, so the hot path must not allocate
      // beyond its output). Multibyte inputs take the char path.
      val bytes = u.getBytes
      var asciiProbe = 0
      var isAscii = true
      while (asciiProbe < bytes.length && isAscii) {
        if (bytes(asciiProbe) < 0) isAscii = false
        asciiProbe += 1
      }
      val s: String = if (isAscii) null else u.toString
      val len = if (isAscii) bytes.length else s.length
      val kk = math.min(k, len)
      // Σ_{d=0..kk} C(len, d) variants, accumulated with an overflow-proof
      // ceiling: each factor is clamped as soon as it exceeds the cap, so
      // the count can never wrap Long and sneak past the guard below
      // (C(5M, 3)-style inputs overflow 64 bits long before the require)
      val MaxVariants = 1L << 22
      var total = 0L
      var d = 0
      while (d <= kk && total <= MaxVariants) {
        var c = 1L
        var i = 0
        while (i < d && c <= MaxVariants) { c = c * (len - i) / (i + 1); i += 1 }
        total = math.min(total + c, MaxVariants + 1)
        d += 1
      }
      // fail fast, not mid-allocation: the neighborhood is combinatorial in
      // the string length (this expression's contract is identifier-like
      // keys, not documents — a 10k-char text at k=2 would be ~50M variants
      // / 400 MB PER ROW, and past Int.MaxValue the allocation size
      // silently wraps). 1<<22 (~4M variants, 32 MB) is far above any sane
      // blocking key and far below executor-killing.
      require(total <= MaxVariants,
        s"deletion_hashes: over ${MaxVariants} variants for a ${len}-char " +
          s"string at k=$kk — blocking keys must be short (identifier-scale) strings")
      val out = new Array[Long](total.toInt)
      var n = 0
      val del = new Array[Int](math.max(kk, 1))
      def hashSkipping(depth: Int): Long = {
        var h = 1125899906842597L
        var i = 0
        var di = 0
        if (isAscii) {
          while (i < len) {
            if (di < depth && del(di) == i) di += 1
            else h = h * 1099511628211L + bytes(i)
            i += 1
          }
        } else {
          while (i < len) {
            if (di < depth && del(di) == i) di += 1
            else h = h * 1099511628211L + s.charAt(i)
            i += 1
          }
        }
        h
      }
      def rec(start: Int, depth: Int, dd: Int): Unit = {
        if (depth == dd) { out(n) = hashSkipping(dd); n += 1 }
        else {
          var i = start
          while (i <= len - (dd - depth)) { del(depth) = i; rec(i + 1, depth + 1, dd); i += 1 }
        }
      }
      d = 0
      while (d <= kk) { rec(0, 0, d); d += 1 }
      java.util.Arrays.sort(out)
      // in-place dedup (identical variants from repeated characters)
      var w = 0
      var r = 0
      while (r < out.length) {
        if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
        r += 1
      }
      // UnsafeArrayData, NOT GenericArrayData: the GenericArrayData
      // long[] constructor round-trips through Object[] — one boxed Long
      // per variant (~170/row on identifier keys, millions per pass),
      // which at 32 concurrent tasks made allocation/GC the bottleneck
      // (the r19-measured 32c > 8c inversion). fromPrimitiveArray lays
      // the longs into one flat buffer, no boxing.
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(java.util.Arrays.copyOf(out, w))
    }
    override protected def withNewChildInternal(c: Expression): DeletionHashes =
      copy(child = c)
  }

  /** Bit-interleaving (Morton/Z-order) of 2–4 already-scaled non-negative
    * int columns into one long — the multi-dimensional clustering key for
    * layout-time sorting ([[graft.sources.Layout]]): sorting by the
    * interleaved value keeps EVERY input dimension locally clustered, so
    * parquet min/max stats prune range predicates on any single dimension
    * (a plain lexicographic sort only prunes its leading column).
    *
    * Inputs must already be scaled to `bits` bits (the Layout operator
    * rank-scales by min/max); wider values are masked. A null input is
    * treated as 0 (nulls cluster at the curve origin — they must land
    * SOMEWHERE deterministic, and origin keeps them co-located for the
    * null-handling scan).
    */
  case class InterleaveBits(children: Seq[Expression], bits: Int)
      extends Expression with CodegenFallback {
    require(children.size >= 2 && children.size <= 4, "interleave 2-4 columns")
    require(bits > 0 && bits * children.size <= 63, "interleaved value must fit a long")
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val n = children.size
      var out = 0L
      var i = 0
      while (i < n) {
        val raw = children(i).eval(input)
        val v =
          if (raw == null) 0L
          else (raw.asInstanceOf[Number].longValue()) & ((1L << bits) - 1)
        var b = 0
        while (b < bits) {
          out |= ((v >>> b) & 1L) << (b * n + i)
          b += 1
        }
        i += 1
      }
      java.lang.Long.valueOf(out)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): InterleaveBits =
      copy(children = newChildren)
  }

  /** Bloom-filter membership probe against a pre-built serialized
    * `org.apache.spark.util.sketch.BloomFilter` (Spark's own mergeable
    * bloom, built distributed via `Dataset.stat.bloomFilter`). The filter
    * rides into the plan as expression metadata — the same host-metadata
    * discipline as the IVF centroids (ref: the reference also stages its
    * probe-side selection structures host-side,
    * `host/join/join_dpu.cc:255-301`) — and is deserialized lazily once per
    * executor, not per row.
    *
    * Fully codegen'd (no CodegenFallback): the probe sits in the scan's hot
    * filter path ahead of a shuffle, exactly where an interpreted boundary
    * per input row would cost the most.
    */
  case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
      extends UnaryExpression {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    // analysis-time type gate: a wrong-typed key would otherwise surface
    // as a Janino compile failure + per-row ClassCastException at runtime
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires a BIGINT key, got ${child.dataType.catalogString}")
    override def dataType: DataType = BooleanType
    @transient private lazy val filter =
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bloomBytes))
    override def nullSafeEval(input: Any): Any =
      java.lang.Boolean.valueOf(filter.mightContainLong(input.asInstanceOf[Long]))
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val bf = ctx.addReferenceObj("graftBloom", filter,
          classOf[org.apache.spark.util.sketch.BloomFilter].getName)
        s"${ev.value} = $bf.mightContainLong($c);"
      })
    override protected def withNewChildInternal(c: Expression): BloomMightContain =
      copy(child = c)
  }

  /** Count-min-sketch point estimate against a pre-built serialized
    * `org.apache.spark.util.sketch.CountMinSketch` (the binary produced by
    * SQL `count_min_sketch(...)`). Probes with the UTF8 bytes of the input
    * string — the same encoding the aggregate inserts — so estimates are
    * exact-modulo-collisions for string keys. Same host-metadata + lazy
    * per-executor deserialize discipline as [[BloomMightContain]].
    */
  case class CmsEstimate(child: Expression, sketchBytes: Array[Byte])
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"cms_estimate requires a STRING key, got ${child.dataType.catalogString}")
    override def dataType: DataType = LongType
    @transient private lazy val sketch =
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(sketchBytes))
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(
        sketch.estimateCount(input.asInstanceOf[UTF8String].getBytes))
    override protected def withNewChildInternal(c: Expression): CmsEstimate =
      copy(child = c)
  }

  // ----------------------------------------------------------- Column API

  private def expr(c: Column) = ColumnShim.expression(c)
  private def col(e: Expression): Column = ColumnShim.column(e)

  def minhash_sig(shingles: Column, numHashes: Int): Column =
    col(MinHashSig(expr(shingles), numHashes))

  def simhash64(tokenArr: Column): Column = col(SimHash64(expr(tokenArr)))

  def vec_dot(a: Column, b: Column): Column = col(VecDot(expr(a), expr(b)))

  def sorted_intersect_count(a: Column, b: Column, minJaccard: Double = -1.0): Column =
    col(SortedIntersectCount(expr(a), expr(b), minJaccard))

  def hyperplane_bits(vec: Column, planes: Int): Column =
    col(HyperplaneBits(expr(vec), planes))

  def chunk_keys(sig: Column, totalBits: Int, chunks: Int): Column =
    col(ChunkKeys(expr(sig), totalBits, chunks))

  def char_shingles(text: Column, k: Int): Column = col(CharShingles(expr(text), k))

  def bpe_pairs(text: Column): Column = col(BpePairs(expr(text)))

  /** [[BigramPairs]]. A NULL array gives NULL, not the `[]` that the
    * `CASE WHEN size(t) >= 2 THEN zip_with(...) ELSE array() END` it
    * replaced gave: the two agree under `explode` (no rows either way),
    * which is the only in-tree use (q_lm_score), but not in a bare select
    * or under `explode_outer`.
    */
  def bigram_pairs(tokenArr: Column): Column = col(BigramPairs(expr(tokenArr)))

  def portable_simhash(tokenArr: Column, bits: Int): Column =
    col(PortableSimhash(expr(tokenArr), bits))

  def word_shingles(text: Column, n: Int): Column = col(WordShingles(expr(text), n))

  def tokenize(text: Column): Column = col(Tokenize(expr(text)))

  def array_count_eq(arr: Column, term: String): Column =
    col(ArrayCountEq(expr(arr), term))

  def portable_tf(tokenArr: Column, dims: Int): Column =
    col(PortableHashingTf(expr(tokenArr), dims))

  def hashing_tf(tokenArr: Column, dims: Int): Column =
    col(HashingTf(expr(tokenArr), dims))

  def bounded_levenshtein(a: Column, b: Column, k: Int): Column =
    col(BoundedLevenshtein(expr(a), expr(b), k))

  def deletion_hashes(str: Column, k: Int): Column =
    col(DeletionHashes(expr(str), k))

  def interleave_bits(cols: Seq[Column], bits: Int): Column =
    col(InterleaveBits(cols.map(expr), bits))

  def pq_encode(vec: Column, centroids: Array[Array[Array[Double]]]): Column =
    col(PqEncode(expr(vec), centroids))

  def pq_adc_dist(code: Column, table: Array[Array[Double]]): Column =
    col(PqAdcDist(expr(code), table))

  /** Stopword-vote language ID in one pass: lowercase → whitespace tokens →
    * per-language membership counts → argmax (ties break to the earlier
    * language in `langs` order; zero votes everywhere → "und").
    *
    * Replaces a 5-language `filter(tokens(lower(text)), …)` HOF tree that
    * re-tokenized the document once per language (interpreted HOFs get no
    * common-subexpression elimination).
    */
  case class LangId(child: Expression, langs: Seq[(String, Seq[String])])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    // One word can be a stopword of several languages ("la" ∈ fr/es/it),
    // so the lookup value is a language bitmask, not a single index.
    @transient private lazy val wordToLangMask: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      langs.zipWithIndex.foreach { case ((_, words), i) =>
        words.foreach(w => m.merge(w, Integer.valueOf(1 << i), (a, b) => a | b))
      }
      m
    }
    @transient private lazy val langNames = langs.map(_._1).toArray
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[UTF8String].toString.toLowerCase.split("\\s+")
      val votes = new Array[Int](langNames.length)
      var i = 0
      while (i < toks.length) {
        val mask = wordToLangMask.getOrDefault(toks(i), Integer.valueOf(0)).intValue()
        if (mask != 0) {
          var li = 0
          while (li < votes.length) {
            if ((mask & (1 << li)) != 0) votes(li) += 1
            li += 1
          }
        }
        i += 1
      }
      var best = -1
      var bestVotes = 0
      i = 0
      while (i < votes.length) {
        if (votes(i) > bestVotes) { bestVotes = votes(i); best = i }
        i += 1
      }
      UTF8String.fromString(if (best < 0) "und" else langNames(best))
    }
    override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
  }

  def lang_id(text: Column, langs: Seq[(String, Seq[String])]): Column =
    col(LangId(expr(text), langs))

  def bloom_might_contain(key: Column, bloomBytes: Array[Byte]): Column =
    col(BloomMightContain(expr(key), bloomBytes))

  def cms_estimate(key: Column, sketchBytes: Array[Byte]): Column =
    col(CmsEstimate(expr(key), sketchBytes))
}
