"""Reduction of one run's raw record (written by the JVM harness) into the
output check, the end-to-end metrics and the per-layer metrics."""
import os
import statistics

import metrics
import oracle
import workloads

# span name -> layer whose self time it carries. `exec` is the DataFrame
# action: its time outside every job (AQE re-planning, broadcasts,
# commits) is job-scheduling overhead, like the gaps between a job's
# stages; stages are where tasks run.
SPAN_LAYER = {"op": "harness", "sources.build": "sources", "exec": "jobs",
              "job": "jobs", "stage": "exec", "streaming.batch": "streaming",
              "planning.analysis": "planning", "planning.optimization": "planning",
              "planning.physical": "planning"}
SELF_LAYERS = ["harness", "sources", "planning", "jobs", "exec", "streaming"]
REF_OPS = workloads.WORKLOADS["ref_ops"]["ops"]


def timed_ops(raw):
    """Every timed operation the run executed, traced or not."""
    return raw["ops"] + raw.get("traced_ops", []) + raw.get("ops_after", [])


def check(w, raw, out_dir, sqls, cache):
    """Operation name -> why its output is wrong, for every failed one."""
    failed = {}
    for o in timed_ops(raw):
        if o["error"]:
            failed.setdefault(o["name"], o["error"])
    if w["kind"] == "ref":
        for name, why in raw["ref"]["warmup_failures"].items():
            failed.setdefault(name, why)
        return failed
    chk = raw["check"]
    for name, why in chk["failures"].items():
        failed.setdefault(name, f"check pass: {why}")
    for name in w["rows"]:
        if name in failed:
            continue
        written = chk["build_bytes_written"].get(name, 0)
        if name not in w.get("write_rows", ()) and written > 0:
            failed[name] = f"read-only row wrote {written:.0f} bytes while building"
            continue
        got = oracle.spark_answer(os.path.join(out_dir, name))
        if name in sqls:
            want = cache.get(name, sqls[name])
            diff = "no oracle answer" if want is None else oracle.compare(got, want)
            if diff:
                failed[name] = f"oracle: {diff}"
        elif got["rows"] == 0:
            failed[name] = "empty result (row has no oracle)"
    return failed


def failed_count(raw, failed):
    return sum(1 for o in timed_ops(raw) if o["name"] in failed)


def _median_by_op(ops):
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["ms"])
    return {k: statistics.median(v) for k, v in by.items()}


def end_to_end(w, raw):
    ms = [o["ms"] for o in raw["ops"]]
    timings = [(o["name"], o["ms"]) for o in raw["ops"]]
    values = {
        "setup_s": raw["setup_end_epoch_ms"] / 1000.0 - raw["launched"],
        "wall_s": metrics.median_phase(timings) / 1000.0,
        "op_gmean_ms": metrics.geomean_of_medians(timings),
        "live_heap_mb": raw["live_heap_mb"],
    }
    report = [
        f"peak_rss_mb = {raw['peak_rss_mb']:.1f} MB (resident-set high-water mark; "
        f"it follows GC timing, so it is reported, not gated)",
        f"wall_s counts every operation at its median; the timed phase as "
        f"measured took {sum(ms) / 1000.0:.3f} s",
        f"op_p50_ms = {statistics.median(ms):.3f} (median of all timed operations)",
        f"ops = {len(ms)} timed operations; session start {raw['session_s']:.3f} s; "
        f"GC in timed pass {raw['gc']['count']} collections, {raw['gc']['ms']} ms"]
    tail = metrics.tail_percentile(ms)
    if tail:
        report.append(f"op_p{tail[0]}_ms = {tail[1]:.3f} (highest percentile with "
                      f">= 10 of {len(ms)} samples beyond it)")
    else:
        report.append(f"no tail percentile: {len(ms)} samples leave fewer than "
                      f"10 beyond the median")
    if w["kind"] == "ref":
        for name, rate in ref_rates(raw).items():
            report.append(f"{name} = {rate:.0f} rows/s")
    return values, report


def ref_rates(raw):
    """Each reference operator's input rows over its median iteration."""
    med = _median_by_op(raw["ops"])
    rows = raw["ref"]["input_rows"]
    return {f"{op}_rows_per_s": rows[op] / (med[op] / 1000.0) for op in REF_OPS}


def _spans_of_op(trace, op):
    spans = {}
    for s in trace["spans"]:
        if s["op"] != op or "end" not in s:
            continue
        sp = dict(s)
        if sp.get("parent") is not None and not any(
                x["id"] == sp["parent"] and x["op"] == op for x in trace["spans"]):
            sp["parent"] = None
        spans[sp["id"]] = sp
    return metrics.nest(spans)


def per_layer(w, raw):
    trace = raw["trace"]
    ops = raw["traced_ops"]
    total = {}
    for per_op in trace["counters"].values():
        for k, v in per_op.items():
            total[k] = total.get(k, 0.0) + v
    peak = max([m.get("exec.peak_mem_mb", 0.0) for m in trace["maxima"].values()] or [0.0])
    selfs = {layer: 0.0 for layer in SELF_LAYERS}
    busy = gap = 0.0
    for i in range(len(ops)):
        spans = _spans_of_op(trace, i)
        for layer, t in metrics.layer_self_times(
                spans, lambda sp: SPAN_LAYER[sp["name"]]).items():
            selfs[layer] += t
        jobs = [(s["start"], s["end"]) for s in spans.values() if s["name"] == "job"]
        op_span = spans.get(f"op{i}")
        exec_span = spans.get(f"exec{i}")
        if op_span:
            busy += metrics.union_length(jobs, op_span["start"], op_span["end"])
        if exec_span:
            gap += (exec_span["end"] - exec_span["start"]) - metrics.union_length(
                jobs, exec_span["start"], exec_span["end"])
    if w["kind"] == "ref":
        out_rows = len(ops)
    else:
        rows = raw["check"]["result_rows"]
        out_rows = sum(rows.get(o["name"], 0.0) for o in ops)
    attempts = total.get("jobs.task_attempts", 0.0)
    c = lambda k: total.get(k, 0.0)  # noqa: E731
    traced_wall = sum(o["ms"] for o in ops) / 1000.0
    wall = (sum(o["ms"] for o in raw["ops"]) + sum(o["ms"] for o in raw["ops_after"])) / 2000.0
    values = {
        "sources.build_ms": c("sources.build_ms"),
        "sources.records_read": c("sources.records_read"),
        "sources.bytes_read": c("sources.bytes_read"),
        "sources.bytes_written": c("sources.bytes_written"),
        "sources.read_per_out": c("sources.records_read") / max(out_rows, 1.0),
        "planning.analysis_ms": c("planning.analysis_ms"),
        "planning.optimization_ms": c("planning.optimization_ms"),
        "planning.physical_ms": c("planning.physical_ms"),
        "planning.aqe_updates": c("planning.aqe_updates"),
        "jobs.count": c("jobs.count"),
        "jobs.stages": c("jobs.stages"),
        "jobs.tasks": attempts,
        "jobs.busy_ms": busy,
        "jobs.gap_ms": gap,
        "jobs.sched_delay_ms": c("jobs.sched_delay_ms"),
        "jobs.retry_ratio": (c("jobs.task_failures") / attempts) if attempts else 0.0,
        "exec.task_ms": c("exec.task_ms"),
        "exec.cpu_ms": c("exec.cpu_ms"),
        "exec.gc_ms": c("exec.gc_ms"),
        "exec.peak_mem_mb": peak,
        "exec.spill_mb": c("exec.spill_mb"),
        "op.scan_ms": c("op.scan_ms"),
        "op.sort_ms": c("op.sort_ms"),
        "op.agg_ms": c("op.agg_ms"),
        "op.join_build_ms": c("op.join_build_ms"),
        "op.broadcast_ms": c("op.broadcast_ms"),
        "exchange.shuffle_write_mb": c("exchange.shuffle_write_mb"),
        "exchange.shuffle_read_mb": c("exchange.shuffle_read_mb"),
        "exchange.fetch_wait_ms": c("exchange.fetch_wait_ms"),
        "op.shuffle_write_ms": c("op.shuffle_write_ms"),
        "streaming.batches": c("streaming.batches"),
        "streaming.add_batch_ms": c("streaming.add_batch_ms"),
        "streaming.planning_ms": c("streaming.planning_ms"),
        "streaming.commit_ms": c("streaming.commit_ms"),
        "jvm.gc_pause_ms": c("jvm.gc_pause_ms"),
        "jvm.gc_count": c("jvm.gc_count"),
        "jvm.peak_rss_mb": raw["peak_rss_mb"],
        "cache.scans": c("cache.scans"),
    }
    for layer in SELF_LAYERS:
        values[f"self.{layer}_ms"] = selfs[layer]
    values["trace.wall_s"] = traced_wall
    values["trace.overhead_ms"] = (traced_wall - wall) * 1000.0
    rates = ref_rates(raw) if w["kind"] == "ref" else {}
    for op in REF_OPS:
        values[f"ref.{op}_rows_per_s"] = rates.get(f"{op}_rows_per_s", 0.0)

    report = ["self time by layer (ms): " + ", ".join(
        f"{k} {selfs[k]:.1f}" for k in SELF_LAYERS) + f"; traced wall {traced_wall * 1000:.1f}"]
    final = {}
    for p in trace["plans"]:
        final[p["op"]] = p["fingerprint"]
    seen = {}
    for i, o in enumerate(ops):
        if i in final and o["name"] not in seen:
            seen[o["name"]] = final[i]
    report += [f"plan {name} {fp}" for name, fp in sorted(seen.items())]
    return values, report
