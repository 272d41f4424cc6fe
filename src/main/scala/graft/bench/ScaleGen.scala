package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.GraftSession
import graft.sources.Tables

/** Deterministic ×N scale-up generator (r13 verdict #4): replicates a
  * driver-generated SF directory N times with per-replica KEY-SPACE
  * OFFSETS, so that every 100 TB claim gets an empirical scaling point
  * instead of an argued plan shape.
  *
  * Integrity preserved by construction:
  *  - each table's surrogate key is shifted by `i × (max(key)+1)` for
  *    replica i, and every FK is shifted by ITS referenced table's unit —
  *    so PK uniqueness, PK–FK closure (every lineitem still joins an
  *    order, every order a customer) and per-key fan-out survive exactly;
  *  - value columns are untouched → global distributions and SKEW SHAPE
  *    are preserved (each hot key becomes N hot keys, each exactly as hot
  *    as before — per-key hotness constant, total data ×N, which is how
  *    real corpora grow);
  *  - `documents.text` gets a per-replica suffix token (` repz<i>`), so
  *    near-dup/minhash structure replicates per block instead of turning
  *    the whole corpus into N-way exact duplicates (which would blow the
  *    pair count quadratically and measure a DIFFERENT workload);
  *    `n_chars` is adjusted to stay consistent;
  *  - timestamps are untouched: the time RANGE stays fixed and per-day
  *    volume scales ×N — how a growing service actually looks;
  *  - `nation`/`region` (fixed dimensions) copy once, like real dims.
  *
  * This is a SCALING fixture, not a correctness fixture: the DuckDB
  * oracle never runs here — wall-time ratios at ×10 data are the output
  * (BASELINE.md round-14 scaling table).
  *
  * Usage: runMain graft.bench.ScaleGen SRC_DIR OUT_DIR [N=10]
  *   e.g.  runMain graft.bench.ScaleGen /root/testdata/sf0.1 /tmp/graft_sf1 10
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.getOrCreate()

    def rd(t: String) = Tables.parquet(spark, s"$src/$t.parquet")
    def unit(t: String, key: String): Long =
      rd(t).agg(max(col(key))).first().getLong(0) + 1L

    val uCust = unit("customer", "c_custkey")
    val uSupp = unit("supplier", "s_suppkey")
    val uPart = unit("part", "p_partkey")
    val uOrd = unit("orders", "o_orderkey")
    val uEv = unit("events", "event_id")
    val uDoc = unit("documents", "doc_id")
    val uVec = unit("embeddings", "vec_id")

    def replicate(
        t: String,
        offsets: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = rd(t)
      val reps = (0 until n).map { i =>
        val shifted = offsets.foldLeft(base) { case (df, (k, u)) =>
          df.withColumn(k, col(k) + lit(u * i))
        }
        extra(shifted, i)
      }
      reps.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[scalegen] $t x$n written")
    }

    rd("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    rd("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")
    // c_name feeds the edit-distance near-dup family: a verbatim replica
    // would put 10 IDENTICAL copies of every name in each (nation, name)
    // bucket — candidate pairs AND true pairs grow ×N² instead of ×N, a
    // fixture artifact, not a workload property. The replica tags must be
    // PAIRWISE > maxDist apart, not merely non-empty: the r14 single-digit
    // tag (" rz$i") left any two replicas of one name at lev=1 — every
    // 10-replica family became 45 true pairs, ×N² output growth measured
    // as a phantom 4× wall slope. The repeated-digit tag ("000" vs "111" =
    // lev 3 > 2) keeps cross-replica distance above the q_edit_pairs
    // maxDist while preserving within-replica near-dup structure.
    replicate("customer", Map("c_custkey" -> uCust), (df, i) =>
      df.withColumn("c_name", concat(col("c_name"), lit(s" rz$i$i$i"))))
    replicate("supplier", Map("s_suppkey" -> uSupp))
    replicate("part", Map("p_partkey" -> uPart))
    replicate("orders", Map("o_orderkey" -> uOrd, "o_custkey" -> uCust))
    replicate("lineitem", Map(
      "l_orderkey" -> uOrd, "l_partkey" -> uPart, "l_suppkey" -> uSupp))
    // user_id shares the CUSTOMER key domain (q_stream_enrich left-joins
    // events.user_id = c_custkey), so it shifts by the customer unit —
    // a per-table unit here would orphan every replica's users. That only
    // holds if every user_id actually lies inside [0, max(c_custkey)]:
    // an out-of-domain id would collide with another replica's shifted
    // range, silently MERGING users across replicas (distorting
    // distinct-user counts and join fan-out) — fail loudly instead
    // (ADVICE r14).
    val maxUser = rd("events").agg(max(col("user_id"))).first().getLong(0)
    require(maxUser < uCust,
      s"events.user_id domain ($maxUser) exceeds customer key unit ($uCust): " +
        "replica shift by uCust would collide user ids across replicas")
    replicate("events", Map("event_id" -> uEv, "user_id" -> uCust))
    replicate("documents", Map("doc_id" -> uDoc), (df, i) => {
      val suffix = s" repz$i"
      df.withColumn("text", concat(col("text"), lit(suffix)))
        .withColumn("n_chars", col("n_chars") + lit(suffix.length.toLong))
    })
    replicate("embeddings", Map("vec_id" -> uVec))

    spark.stop()
  }
}
