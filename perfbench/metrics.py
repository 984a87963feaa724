"""Metric names and units, and how job samples fold into them.

The tables below are the benchmark's published interface: BENCHMARK.json
lists the same names and units, and the self-tests pin the two together.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import replace

from perfbench.workloads import progress_backwards

END_TO_END = {
    "setup_s": "s",
    "job_p50_s": "s",
    "first_job_s": "s",
    "throughput_rows_s": "1/s",
}

PER_LAYER = {
    # the process tree's peak resident memory: per layer, not end to end,
    # because its run-to-run spread (G1 heap growth) exceeds any bound
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "queries.builder_s": "s",
    "queries.builder_jobs": "count",
    "queries.zero_work_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.shuffle_bytes_per_input_byte": "ratio",
    "exec.spill_bytes": "B",
    "exec.peak_exec_mem_bytes": "B",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "functions.python_rows": "count",
    "functions.python_bytes_sent": "B",
    "functions.python_bytes_returned": "B",
    "operators.mapreduce.submit_s": "s",
    "operators.mapreduce.poll_s": "s",
    "operators.mapreduce.result_s": "s",
    "operators.mapreduce.progress_backwards": "count",
    "operators.mapreduce.stages_seen": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "trace.self_sum_s": "s",
    "trace.untraced_p50_s": "s",
    "trace.overhead": "ratio",
}

# per-layer metric -> (status-store counter, or span name with "span:")
# folded as a mean over the traced jobs that recorded it, so a workload
# whose job shapes use different layers reports each layer per use
PER_JOB_MEANS = {
    "sources.scan_s": "scan_s",
    "sources.input_bytes": "input_bytes",
    "queries.builder_s": "span:queries.builder",
    "queries.builder_jobs": "builder_jobs",
    "catalyst.plan_s": "span:catalyst.plan",
    "exec.action_s": "span:exec.action",
    "exec.jobs": "jobs",
    "exec.stages": "stages",
    "exec.tasks": "tasks",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_fetch_wait_s": "shuffle_fetch_wait_s",
    "exec.spill_bytes": "spill_bytes",
    "exec.task_cpu_s": "task_cpu_s",
    "exec.gc_s": "gc_s",
    "functions.python_rows": "python_rows",
    "functions.python_bytes_sent": "python_bytes_sent",
    "functions.python_bytes_returned": "python_bytes_returned",
    "operators.mapreduce.submit_s": "span:operators.mapreduce.submit",
    "operators.mapreduce.poll_s": "span:operators.mapreduce.poll",
    "operators.mapreduce.result_s": "span:operators.mapreduce.result",
    "streaming.batches": "batches",
}


def by_shape(jobs) -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for j in jobs:
        out[j.shape].append(j.seconds)
    return out


def shape_mean(jobs, fold) -> float:
    """``fold`` of each job shape's times, averaged over shapes. Every
    round runs each shape once, so shapes weigh equally; folding per
    shape first keeps two shapes of different speed from leaving the
    pooled median in the gap between them."""
    groups = by_shape(jobs)
    return statistics.fmean(fold(v) for v in groups.values())


def end_to_end(jobs, first, setup_s: float, wall: float) -> dict:
    good_rows = sum(j.input_rows for j in jobs if j.ok)
    return {
        "setup_s": setup_s,
        "job_p50_s": shape_mean(jobs, statistics.median),
        "first_job_s": sum(j.seconds for j in first),
        "throughput_rows_s": good_rows / wall,
    }


def error_rate(jobs) -> float:
    return sum(1 for j in jobs if not j.ok) / len(jobs)


def per_layer(traced, untraced, session_start_s: float, peak_rss_mb: float) -> dict:
    """Fold traced jobs into the per-layer metrics: means per job that
    recorded the counter or span, except zero-work jobs, failed tasks and
    backwards progress steps (totals over the traced jobs) and the peak
    memory (maximum). ``untraced`` are the interleaved jobs of the same
    run, for the tracing overhead. Metrics of a layer the workload does
    not touch read 0."""
    out = {name: 0.0 for name in PER_LAYER}

    def values(key):
        if key.startswith("span:"):
            return [j.spans[key[5:]]["total"] for j in traced if key[5:] in j.spans]
        return [j.counters[key] for j in traced if key in j.counters]

    for name, key in PER_JOB_MEANS.items():
        out[name] = statistics.fmean(values(key) or [0.0])
    out["peak_rss_mb"] = peak_rss_mb
    out["session.start_s"] = session_start_s
    out["queries.zero_work_jobs"] = sum(
        1 for j in traced
        if j.counters.get("jobs", 0) == 0 or j.counters.get("input_bytes", 0) == 0
    )
    inp = sum(j.counters.get("input_bytes", 0.0) for j in traced)
    shuf = sum(j.counters.get("shuffle_write_bytes", 0.0) for j in traced)
    out["exec.shuffle_bytes_per_input_byte"] = shuf / inp if inp else 0.0
    out["exec.peak_exec_mem_bytes"] = max(
        (j.counters.get("peak_exec_mem_bytes", 0.0) for j in traced), default=0.0
    )
    out["exec.failed_tasks"] = sum(j.counters.get("failed_tasks", 0.0) for j in traced)
    states = [j.progress for j in traced if j.progress]
    if states:
        out["operators.mapreduce.progress_backwards"] = sum(map(progress_backwards, states))
        out["operators.mapreduce.stages_seen"] = len({s for p in states for s, _ in p})
    batches = [b for j in traced for b in j.counters.get("batch_records", [])]
    if batches:
        def ms(key):
            return statistics.fmean(b["duration_ms"].get(key, 0) for b in batches)

        out["streaming.trigger_ms_p50"] = statistics.median(
            b["duration_ms"].get("triggerExecution", 0) for b in batches
        )
        out["streaming.add_batch_ms"] = ms("addBatch")
        out["streaming.query_planning_ms"] = ms("queryPlanning")
        out["streaming.wal_commit_ms"] = ms("walCommit")
        out["streaming.state_rows"] = statistics.fmean(b["state_rows"] for b in batches)
        out["streaming.state_commit_ms"] = statistics.fmean(
            b["state_commit_ms"] for b in batches
        )
    out["trace.self_sum_s"] = shape_mean(
        [replace(j, seconds=j.spans["job"]["self_sum"]) for j in traced], statistics.median
    )
    if untraced:
        out["trace.untraced_p50_s"] = shape_mean(untraced, statistics.median)
        out["trace.overhead"] = out["trace.self_sum_s"] / out["trace.untraced_p50_s"] - 1.0
    return out
