package graft

import java.io.{ByteArrayOutputStream, PrintStream}

/** The probe's subcommands take a session and a stream, so they run here
  * on the shared test session with their output captured.
  */
class ProbeSpec extends SparkTestBase {

  private def capture(probe: PrintStream => Int): (Int, Seq[String]) = {
    val buf = new ByteArrayOutputStream
    val out = new PrintStream(buf, true, "UTF-8")
    val failures = probe(out)
    out.flush()
    (failures, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("plan prints the row's physical plan") {
    val (failures, lines) = capture(Probe.plan(spark, _, sf0001, Seq("q_sum")))
    assert(failures == 0)
    assert(lines.contains("""{"name":"q_sum"}"""))
    assert(lines.contains("== Physical Plan =="))
  }

  test("run prints each row's out_rows as the catalog counts it, and stream progress only for streams") {
    val rows = Seq("q_sum", "q_stream_dedup")
    val (failures, lines) = capture(Probe.run(spark, _, sf0001, rows))
    assert(failures == 0, lines.mkString("\n"))
    rows.foreach { n =>
      val OutRows = ("\\{\"name\":\"" + n + "\",\"out_rows\":(\\d+),").r.unanchored
      val printed = lines.collect { case OutRows(c) => c.toLong }
      assert(printed == Seq(SparkEntry.queries(n)(spark, sf0001).count()), n)
    }
    val progress = lines.filter(_.startsWith("[stream] "))
    assert(progress.exists(_.contains("\"name\":\"q_stream_dedup\"")), lines.mkString("\n"))
    assert(!progress.exists(_.contains("\"name\":\"q_sum\"")))
  }

  test("ops take prints both legs with out_rows at the closed-form n/8 and no failure") {
    val (failures, lines) = capture(Probe.ops(spark, _, "take", sf = 1, iters = 1))
    assert(failures == 0, lines.mkString("\n"))
    Seq("take_join", "take_merge_dist").foreach { leg =>
      assert(lines.exists(l => l.startsWith(s"{\"name\":\"$leg\",") &&
        l.contains(s"\"out_rows\":${4194304 / 8},")), lines.mkString("\n"))
    }
  }
}
