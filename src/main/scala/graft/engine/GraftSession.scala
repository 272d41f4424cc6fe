package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Session factory with scale-oriented defaults.
  *
  * The reference engine (upmem/dpu_olap) hand-schedules batches onto DPUs
  * (`host/filter/filter_dpu.cc:126-128`); here the equivalent knobs are the
  * shuffle-partition count and AQE, which re-plans partition counts / skew
  * joins at runtime — the behavior a 1000-executor cluster needs.
  */
object GraftSession {

  /** Tuned builder; caller may override anything before `.getOrCreate()`. */
  def builder(master: String = s"local[${defaultCpus}]"): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .appName("graft")
      // shuffle width defaults to the core count but is independently
      // overridable (SPARK_GRAFT_SHUFFLE): at ×10 data the per-partition
      // aggregate state of the n-gram posting family outgrows the memory
      // fraction at 32 partitions and sort-spills — more partitions is
      // the scale knob (AQE coalesces the other direction for free)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", defaultCpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOT setting preferSortMergeJoin=false: shuffled-hash measures ~2x
      // faster than sort-merge on the reference's join shapes (`Probe ops join`),
      // but its hash-relation BUILD cannot spill — at 16x the shape it
      // hard-fails with "Can't acquire ... to build hash relation" while
      // sort-merge completes. Sort-merge + AQE (which still converts to
      // SHJ/broadcast when runtime sizes allow) is the spill-safe default
      // a 100 TB run needs; callers with known-bounded sides can hint
      // SHUFFLE_HASH per join.
      // COUNT/MIN/MAX with no filter answer from parquet footer metadata
      // instead of scanning row groups (the reference's row-count bookkeeping
      // is likewise metadata, `host/generator/generator.cc:76-99`).
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Runtime bloom-filter semi-join reduction stays OFF: with a
      // selective dim filter and sound stats it prunes fact-side shuffle
      // input, but measured on the reference join shape (33M×33M, no
      // selective filter, in-memory inputs with unknown stats) it
      // regresses the join 3× — Spark builds a 33M-key bloom over a side
      // it misestimates as small. A query with the selective-dim pattern
      // sets the conf on its own session.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      // spark.sql.objectHashAggregate.sortBased.fallbackThreshold stays at
      // its 128-group default: measured on the edit-pairs bucket gather
      // (millions of mostly-singleton collect_list groups), hash-mode
      // object aggregation was 2× MORE task time than the sort-based
      // fallback (per-group ArrayBuffer churn beats one radix sort), and
      // the sort path is the spill-safe one anyway.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Surfaces the `graft_cap_*` metrics `observe`d by the dedup/LSH bucket
    * ceilings (`ext/Dedup.scala`): a ceiling that silently swallows most of
    * a corpus (the under-sized-key-space failure mode at scale) becomes a
    * loud stderr warning instead of a quietly empty result.
    */
  private final class CapAuditListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_cap_")) {
          val n = row.getAs[Long]("n_rows")
          val dropped = row.getAs[Long]("n_dropped_rows")
          if (n > 0 && dropped * 2 > n)
            System.err.println(
              s"[graft] WARNING: bucket ceiling $name dropped $dropped of $n candidate rows " +
                "(>50%) — the key space is under-sized for this corpus; raise planes/bands " +
                "or the bucket cap (see Dedup.bucketStats for the full audit)")
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (!s.conf.getOption("graft.capAuditRegistered").contains("true")) {
      s.listenerManager.register(new CapAuditListener)
      s.conf.set("graft.capAuditRegistered", "true")
    }
    s
  }
}
