"""The benchmark's workloads: fixed lists of operations, and why each list
was chosen. The seed only reorders catalog rows and generates the
reference operators' inputs; it never changes which work a run does.

Each workload's list is its work per 10 seconds of `--seconds`: a ref_ops
run does `iters` iterations of each operator per 10 s, a catalog run
`passes` passes over its rows (each in a new seeded order) per 10 s. A
traced catalog run does one pass per 10 s, since it repeats its timed
phase three times (untraced, traced, untraced).

A run is one cold JVM, whose set-up (session start, the first, cold
queries, the check pass) takes 20-45 s on 4 cores; that fixed cost is why
the benchmark has two workloads and not more."""

WORKLOADS = {
    "ref_ops": {
        "kind": "ref",
        "why": "the paper's five operators on cached uint32 columns: operator "
               "and exchange time, with no table loading and little planning",
        "ops": ["filter", "take", "sum", "partition", "join"],
        # input rows: one cached (idx, v) table read by filter, sum and take,
        # and one input each for partition and join; sized for roughly
        # 0.2-0.8 s per iteration on 4 cores
        "sizes": {"values": 16_000_000, "partition": 2_000_000, "join": 1_000_000},
        "iters": 8,
        "warmups": 2,
    },
    "catalog_small": {
        "kind": "catalog",
        "sf": 0.01,
        "why": "sf0.01 catalog rows, mostly read-only, where per-query fixed cost "
               "(schema inference, planning, job scheduling) dominates; two rows "
               "write and stream",
        # parity ops, TPC-H, text, pairs, windows, dedup and aggregation,
        # read from parquet, then two writing rows. q_take and q_take_merge_dist share
        # a cross-query index cache that the harness evicts before every
        # operation, so neither's time depends on which ran first.
        "rows": [
            "q_filter", "q_sum", "q_join", "q_take", "q_take_merge_dist",
            "q_tpch_q1", "q_tpch_q3", "q_tpch_q6", "q_explode_tokens",
            "q_token_count", "q_cosine_pairs", "q_sessionize", "q_topk_per_key",
            "q_dedup_exact", "q_dsv2_merge", "q_stream_dedup",
        ],
        # three passes, so that every row has a median of three timings:
        # one pass on a shared 4-core host spread 24% from run to run, as
        # one slow row or a burst of host load lands in a single pass
        "passes": 3,
        # rows that write: a staging-connector merge and a stateful stream
        # (checkpoints and state), so the write path and the streaming layer
        # are measured too. Every catalog operation starts from an empty
        # staging area; every other row must write nothing while it builds.
        "write_rows": ["q_dsv2_merge", "q_stream_dedup"],
    },
}

FIXTURE_SFS = sorted({w["sf"] for w in WORKLOADS.values() if "sf" in w})

UNITS = {
    "setup_s": "s", "wall_s": "s", "op_gmean_ms": "ms", "live_heap_mb": "MB",
    "sources.build_ms": "ms", "sources.records_read": "count",
    "sources.bytes_read": "B", "sources.bytes_written": "B",
    "sources.read_per_out": "ratio",
    "planning.analysis_ms": "ms", "planning.optimization_ms": "ms",
    "planning.physical_ms": "ms", "planning.aqe_updates": "count",
    "jobs.count": "count", "jobs.stages": "count", "jobs.tasks": "count",
    "jobs.busy_ms": "ms", "jobs.gap_ms": "ms", "jobs.sched_delay_ms": "ms",
    "jobs.retry_ratio": "ratio",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.peak_mem_mb": "MB", "exec.spill_mb": "MB",
    "op.scan_ms": "ms", "op.sort_ms": "ms", "op.agg_ms": "ms",
    "op.join_build_ms": "ms", "op.broadcast_ms": "ms",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
    "exchange.fetch_wait_ms": "ms", "op.shuffle_write_ms": "ms",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.commit_ms": "ms",
    "jvm.gc_pause_ms": "ms", "jvm.gc_count": "count", "jvm.peak_rss_mb": "MB",
    "cache.scans": "count",
    "self.harness_ms": "ms", "self.sources_ms": "ms", "self.planning_ms": "ms",
    "self.jobs_ms": "ms", "self.exec_ms": "ms", "self.streaming_ms": "ms",
    "trace.wall_s": "s", "trace.overhead_ms": "ms",
    "ref.filter_rows_per_s": "1/s", "ref.take_rows_per_s": "1/s",
    "ref.sum_rows_per_s": "1/s", "ref.partition_rows_per_s": "1/s",
    "ref.join_rows_per_s": "1/s",
}
