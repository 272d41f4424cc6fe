package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.GraftFunctions._
import graft.operators.{PositionalTake, Relational}

/** ScalaCheck-generated property tests (SURVEY §5.2): the reference's
  * invariants hold for arbitrary data, not just the fixtures. Generators
  * are sampled with fixed seeds (deterministic CI), mirroring the
  * reference's seeded randomness (`rng(42)`, `filter_benchmark.cc:76`).
  */
class PropertyCheckSpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    // iterate enough seeds to actually yield n cases: Gen.apply returns at
    // most ONE value per seed, so a fixed 10-seed pool silently capped
    // every "40-sample" property at 10 cases
    val out = (1 to n * 4).iterator
      .flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
      .take(n)
      .toSeq
    assert(out.size == n, s"generator yielded ${out.size}/$n samples")
    out
  }

  private val longsGen: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.chooseNum(0L, (1L << 32) - 1))

  test("property: filter+compact output = scala filter on any uint32 list") {
    samples(longsGen, 5).foreach { xs =>
      val got = Relational
        .filterCompact(xs.toDF("v"), col("v") < (1L << 30), Seq("v"))
        .as[Long].collect().sorted.toList
      assert(got == xs.filter(_ < (1L << 30)).sorted)
    }
  }

  test("property: sum matches BigInt fold for any uint32 list") {
    samples(longsGen, 5).foreach { xs =>
      val got = Relational.sumAgg(xs.toDF("v"), "v").as[Long].head()
      assert(BigInt(got) == xs.map(BigInt(_)).sum)
    }
  }

  test("property: take at any valid index set gathers exactly those rows") {
    samples(Gen.zip(longsGen, Gen.chooseNum(1, 7)), 5).foreach { case (xs, step) =>
      val values = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("ord", "v")
      val idx = xs.indices.filter(_ % step == 0).map(_.toLong)
      val got = PositionalTake
        .takeByPosition(values, Seq("ord"), Seq("v"), idx.toDF("idx"))
        .select("idx", "v").as[(Long, Long)].collect().sortBy(_._1).toList
      val want = idx.map(i => (i, xs(i.toInt))).toList
      assert(got == want)
    }
  }

  test("property: hash partition conserves multiset for any key/payload") {
    samples(longsGen, 5).foreach { xs =>
      val rows = xs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      val parts = Relational.hashPartition(rows.toDF("k", "p"), 4, "k")
      assert(parts.as[(Long, Long)].collect().sorted.toList == rows.sorted.toList)
    }
  }

  test("property: identical inputs give identical minhash signatures; disjoint differ") {
    samples(Gen.nonEmptyListOf(Gen.identifier), 5).foreach { ws =>
      val df = Seq(
        (1L, ws.mkString(" ")),
        (2L, ws.mkString(" ")),
        (3L, ws.map(_ + "zzz").mkString(" "))).toDF("id", "text")
      val sigs = df.select($"id",
        minhashSignature(wordShingles($"text", 1), 32).as("s"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(sigs(1L) == sigs(2L))
      assert(sigs(1L) != sigs(3L))
    }
  }

  test("property: simhash is order-insensitive over the token multiset") {
    samples(Gen.nonEmptyListOf(Gen.identifier), 5).foreach { ts =>
      val df = Seq((1L, ts.mkString(" ")), (2L, ts.reverse.mkString(" ")))
        .toDF("id", "text")
      val sigs = df.select($"id", simhash64(tokens($"text")).as("s"))
        .as[(Long, Long)].collect().toMap
      assert(sigs(1L) == sigs(2L))
    }
  }

  test("property: sorted_intersect_count equals the set-intersection size") {
    val arrGen = Gen.zip(
      Gen.listOf(Gen.chooseNum(-50L, 50L)),
      Gen.listOf(Gen.chooseNum(-50L, 50L)))
    // small value range forces collisions AND duplicates — duplicates must
    // count once (set semantics), matching array_intersect
    samples(arrGen, 40).foreach { case (a, b) =>
      val df = Seq((a.sorted, b.sorted)).toDF("a", "b")
      val exact = (a.toSet & b.toSet).size
      val n = df.select(
          graft.functions.NativeExpressions.sorted_intersect_count($"a", $"b"))
        .as[Int].head()
      assert(n == exact, s"a=$a b=$b")
      // gated variant: exact when the pair clears the threshold; exact or
      // the -1 sentinel when it provably cannot (never a wrong count)
      val t = 0.5
      val union = (a.toSet | b.toSet).size
      val j = if (union == 0) 1.0 else exact.toDouble / union
      val gated = df.select(
          graft.functions.NativeExpressions.sorted_intersect_count($"a", $"b", t))
        .as[Int].head()
      // the gate's sizes are the RAW array lengths (duplicates included),
      // so compare against the bound it actually enforces
      val need = math.ceil(t * (a.length + b.length) / (1.0 + t)).toInt
      if (exact >= need) assert(gated == exact, s"gate lost an exact count: a=$a b=$b")
      else assert(gated == exact || gated == -1, s"gate returned a wrong count: a=$a b=$b")
      if (j >= t && exact >= need) assert(gated == exact)
    }
  }

  test("bounded levenshtein scratch capacity never undershoots or overflows") {
    // the DP scratch grows to scratchCap(m + 1); doubling the highest
    // one-bit overflowed to a negative array size from 2^30 up. Checked
    // on the size rule alone, so nothing of that size is allocated.
    import graft.functions.NativeExpressions.scratchCap
    Seq(1, 2, 63, 64, 65, (1 << 29) + 1, (1 << 30) - 1, 1 << 30, (1 << 30) + 1,
        Int.MaxValue).foreach { n =>
      assert(scratchCap(n) >= n, s"scratchCap($n) = ${scratchCap(n)}")
    }
    assert(scratchCap(65) == 128) // doubling growth below 2^30 is kept
    assert(scratchCap(1 << 30) == (1 << 30))
    assert(scratchCap(Int.MaxValue) == Int.MaxValue)
  }

  test("property: bounded levenshtein agrees with Spark's levenshtein up to the band") {
    val strGen = Gen.zip(
      Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')).map(_.mkString),
      Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')).map(_.mkString),
      Gen.chooseNum(0, 4))
    // 3-letter alphabet makes near pairs likely, exercising both the exact
    // (dist <= k) and the clamped (k+1) branches
    samples(strGen, 40).foreach { case (a, b, k) =>
      val df = Seq((a, b)).toDF("a", "b")
      val (bounded, full) = df.select(
          graft.functions.NativeExpressions.bounded_levenshtein($"a", $"b", k),
          levenshtein($"a", $"b"))
        .as[(Int, Int)].head()
      if (full <= k) assert(bounded == full, s"($a,$b,k=$k)")
      else assert(bounded == k + 1, s"($a,$b,k=$k): full=$full bounded=$bounded")
    }
  }

  test("property: bpe_pairs equals the HOF lower∘substr + rlike formulation") {
    // the r19 native rewrite of qBpeMerges' pair extraction must emit the
    // IDENTICAL pair sequence (duplicates and order included) as the
    // reference HOF formulation, for arbitrary text — including the
    // unicode traps the ASCII fast path must not mishandle: multibyte
    // letters, the Kelvin sign K (lowercases INTO 'k'), dotted İ
    // (lowercase expands to TWO code points), and supplementary-plane
    // emoji (two UTF-16 units, one code point)
    val charPool = Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '.', ',', '!', 'Z', 'Q'),
      1 -> Gen.oneOf('é', 'ß', 'Σ', '中', 'K', 'İ'),
      1 -> Gen.const('\uD83D')) // paired below into a full emoji
    val strGen = Gen.listOf(charPool).map(cs =>
      new String(cs.toArray).replace("\uD83D", "😀"))
    samples(strGen, 40).foreach { s =>
      val df = Seq(Tuple1(s)).toDF("text")
      val native = df.select(
          graft.functions.NativeExpressions.bpe_pairs($"text"))
        .as[Seq[String]].head()
      val hof = df.select(expr(
          """filter(
            |  transform(sequence(1, length(text) - 1),
            |            i -> lower(substr(text, i, 2))),
            |  p -> p rlike '^[a-z]{2}$')""".stripMargin))
        .as[Seq[String]].head()
      assert(native == hof, s"mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("property: bigram_pairs equals the zip_with(slice, slice) formulation") {
    // the r20 native rewrite of qLmScore's per-doc bigram extraction must
    // emit the IDENTICAL struct sequence (order and duplicates included)
    // as the r19 HOF formulation, for arbitrary token arrays — empty,
    // single-token, duplicate-heavy, and multibyte
    val tokGen = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumStr.map(_.take(5)),
      1 -> Gen.const(""),
      1 -> Gen.oneOf("héllo", "中文", "ß")))
    val hofSql =
      """CASE WHEN size(t) >= 2 THEN
        |  zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
        |           (a, b) -> struct(a AS w1, b AS w2))
        |ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END""".stripMargin
    samples(tokGen, 30).foreach { toks =>
      val df = Seq(Tuple1(toks)).toDF("t")
      val native = df.select(
          graft.functions.NativeExpressions.bigram_pairs($"t"))
        .as[Seq[(String, String)]].head()
      val hof = df.select(expr(hofSql)).as[Seq[(String, String)]].head()
      assert(native == hof, s"bigram mismatch on $toks")
    }
    // a NULL array: native gives NULL where the HOF gave [], so the two are
    // equivalent only after explode (q_lm_score's use) — both yield no rows
    val nullArr = Seq(Tuple1(Option.empty[Seq[String]])).toDF("t")
    assert(nullArr.select(
      graft.functions.NativeExpressions.bigram_pairs($"t")).head().isNullAt(0))
    def exploded(bigrams: org.apache.spark.sql.Column) =
      nullArr.select(explode(bigrams).as("bg")).select($"bg.w1", $"bg.w2")
        .as[(String, String)].collect().toSeq
    assert(exploded(graft.functions.NativeExpressions.bigram_pairs($"t")) ==
      exploded(expr(hofSql)))
  }

  test("property: portable_simhash equals the explode + 60-conditional-sum fold") {
    // the r19 native rewrite of Dedup.portableSimhashSigs must reproduce
    // the SQL-composed md5-prefix fold bit for bit — same 60-bit token
    // fingerprint (conv(substring(md5(t),1,15),16,10)), same ±1 counters,
    // same >= 0 packing — for arbitrary token multisets incl. duplicates,
    // empties, and multibyte tokens
    val tokGen = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumStr.map(_.take(6)),
      1 -> Gen.const(""),
      // a NULL token must vote -1 on every bit, exactly like the SQL
      // fold's CASE (WHEN NULL → ELSE -1); ADVICE r19: the old native
      // path NPE'd on null elements
      1 -> Gen.const(null: String),
      1 -> Gen.oneOf("héllo", "中文", "ß")))
    samples(tokGen, 30).foreach { toks =>
      val df = Seq(Tuple1(toks)).toDF("t")
      val native = df.select(
          graft.functions.NativeExpressions.portable_simhash($"t", 60))
        .as[Option[Long]].head()
      if (toks.isEmpty) assert(native.isEmpty, "empty array must yield NULL")
      else {
        val th = df.select(explode($"t").as("tok"))
          .select(conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long").as("h"))
        val bitSums = (0 until 60).map(b =>
          sum(expr(s"CASE WHEN (shiftright(h, $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$b"))
        val packed = (0 until 60).map(b =>
          expr(s"CASE WHEN s$b >= 0 THEN shiftleft(CAST(1 AS BIGINT), $b) " +
            "ELSE CAST(0 AS BIGINT) END")).reduce(_ + _)
        val folded = th.agg(bitSums.head, bitSums.tail: _*)
          .select(packed).as[Long].head()
        assert(native.contains(folded), s"sig mismatch on $toks")
      }
    }
  }

  test("property: strings within edit distance k share a deletion-variant hash") {
    // the completeness claim behind the symmetric-delete blocking
    // (Dedup.editDistancePairs): apply <= k random edits (sub/ins/del) to a
    // random base string; original and mutant MUST share a variant hash
    val editGen = for {
      base <- Gen.listOfN(12, Gen.alphaNumChar).map(_.mkString)
      nEdits <- Gen.chooseNum(0, 2)
      seeds <- Gen.listOfN(6, Gen.chooseNum(0, Int.MaxValue))
    } yield (base, nEdits, seeds)
    samples(editGen, 40).foreach { case (base, nEdits, seeds) =>
      var m = base
      var i = 0
      while (i < nEdits) {
        val r = new scala.util.Random(seeds(i))
        val pos = if (m.isEmpty) 0 else r.nextInt(m.length)
        m = r.nextInt(3) match {
          case 0 if m.nonEmpty => m.updated(pos, r.nextPrintableChar())       // sub
          case 1 => m.take(pos) + r.nextPrintableChar() + m.drop(pos)         // ins
          case _ if m.nonEmpty => m.take(pos) + m.drop(pos + 1)               // del
          case _ => m
        }
        i += 1
      }
      val df = Seq((base, m)).toDF("a", "b")
      val (ha, hb, dist) = df.select(
          graft.functions.NativeExpressions.deletion_hashes($"a", 2),
          graft.functions.NativeExpressions.deletion_hashes($"b", 2),
          graft.functions.NativeExpressions.bounded_levenshtein($"a", $"b", 2))
        .as[(Seq[Long], Seq[Long], Int)].head()
      if (dist <= 2)
        assert(ha.toSet.intersect(hb.toSet).nonEmpty,
          s"no shared variant for ('$base','$m') at dist=$dist")
      // the zero-deletion variant always exists, and the output honors the
      // sorted + deduplicated contract (the old self-intersection here was
      // vacuous — any non-empty set intersects itself)
      assert(ha.nonEmpty && ha == ha.sorted && ha.distinct == ha,
        "variant array must be non-empty, sorted, deduplicated")
    }
  }

  test("property: deletion_hashes equals the char-path reference (ASCII byte fast path pin)") {
    // r20: the hot path hashes UTF8String BYTES when the input is pure
    // ASCII (one byte = one UTF-16 code unit, same numeric value) and
    // falls back to String chars otherwise. Both paths must produce the
    // IDENTICAL hash set as this char-based reference — mixing multibyte
    // chars into the generator exercises the fallback and the boundary.
    def refHashes(s: String, k: Int): Seq[Long] = {
      val len = s.length
      val kk = math.min(k, len)
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      def rec(start: Int, del: List[Int], left: Int): Unit = {
        if (left == 0) {
          var h = 1125899906842597L
          val ds = del.toSet
          var i = 0
          while (i < len) {
            if (!ds.contains(i)) h = h * 1099511628211L + s.charAt(i)
            i += 1
          }
          out += h
        } else {
          var i = start
          while (i <= len - left) { rec(i + 1, i :: del, left - 1); i += 1 }
        }
      }
      (0 to kk).foreach(d => rec(0, Nil, d))
      out.distinct.sorted.toSeq
    }
    val strGen = Gen.listOfN(9, Gen.frequency(
      9 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('é', '中', 'ß', ' '))).map(_.mkString)
    samples(strGen, 40).foreach { s =>
      val got = Seq(Tuple1(s)).toDF("s")
        .select(graft.functions.NativeExpressions.deletion_hashes($"s", 2))
        .as[Seq[Long]].head()
      assert(got == refHashes(s, 2),
        s"hash-set mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("property: connected components match a local union-find on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L)).suchThat(p => p._1 != p._2))
    samples(edgeGen, 4).foreach { edges =>
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonicalize union-find labels to the min member id per component
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.groupBy(find).flatMap { case (_, members) =>
        val rep = members.min
        members.map(_ -> rep)
      }
      val got = graft.ext.Components
        .connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"edges=$edges")
    }
  }

  test("property: label propagation on a clique converges to the min id by round 2") {
    // K_n, synchronous plurality with min-label ties: round 1 gives every
    // node its min NEIGHBOR (all-distinct tie), i.e. the global min m for
    // everyone except m itself (which takes the second-smallest); round 2
    // every non-m node sees m from n−2 of its n−1 neighbors (plurality),
    // and m's neighbors all carry m — so rounds ≥2 are the fixed point.
    // Exercises plurality counting, the tie rule, AND stability.
    val nGen: Gen[Int] = Gen.chooseNum(3, 8)
    samples(nGen, 3).foreach { n =>
      val ids = (0 until n).map(i => 10L + 3L * i) // non-contiguous ids
      val half = for {
        i <- ids; j <- ids if i < j
      } yield (i, j)
      val edges = (half ++ half.map(_.swap)).toList.toDF("a", "b")
      val m = ids.min
      Seq(2, 3).foreach { rounds =>
        val got = graft.ext.Components
          .labelPropagation(edges, "a", "b", rounds)
          .as[(Long, Long)].collect().toMap
        assert(got == ids.map(_ -> m).toMap,
          s"K_$n after $rounds rounds: $got")
      }
    }
  }

  test("property: hopDistance matches a local BFS from the component minima") {
    val edgeGen: Gen[List[(Long, Long)]] = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L)).suchThat(p => p._1 != p._2))
    samples(edgeGen, 4).foreach { edges =>
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // reference: textbook frontier BFS from every local component min
      val comp = {
        // reuse a simple flood fill to find component minima
        val seen = scala.collection.mutable.Map[Long, Long]()
        nodes.sorted.foreach { n =>
          if (!seen.contains(n)) {
            var frontier = Set(n)
            while (frontier.nonEmpty) {
              frontier.foreach(seen(_) = n)
              frontier = frontier.flatMap(adj(_)).filterNot(seen.contains)
            }
          }
        }
        seen.toMap
      }
      val seedSet = comp.values.toSet
      // multi-source BFS: ALL seeds enter the frontier at distance 0
      val want = scala.collection.mutable.Map[Long, Long]()
      var frontier = seedSet; var d = 0L
      while (frontier.nonEmpty) {
        frontier.foreach(n => if (!want.contains(n)) want(n) = d)
        frontier = frontier.flatMap(adj(_)).filterNot(want.contains)
        d += 1
      }
      val seeds = seedSet.toSeq.toDF("id")
      val got = graft.ext.Components
        .hopDistance(edges.toDF("a", "b"), "a", "b", seeds, "id")
        .as[(Long, Long)].collect().toMap
      assert(got == want.toMap, s"edges=$edges")
    }
  }
}
