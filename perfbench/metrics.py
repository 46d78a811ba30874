"""Metric names, units and the pure arithmetic the benchmark reports with.

Nothing here touches Spark, so the self-tests can check it directly:
the percentile rule, span self time, and that the metric names agree
with ``BENCHMARK.json``.
"""

from __future__ import annotations

import math

# End-to-end metrics gated by BENCHMARK.json, reported on every workload.
# Latency is gated as the geometric mean of all timed executions' walls
# (the TPC-H power-metric summary): every execution counts and a cheap
# query's change weighs as much as an expensive one's. The median of the
# same walls (``latency_p50_s``, printed but not gated) falls between
# queries of different cost and moved up to twice as much between runs
# of the same code.
END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "latency_geomean_s": "s",
}

# Per-layer metrics of the traced run. Layers are named after repo
# modules; time and count metrics are means per timed execution unless
# the name says otherwise (session.*, exec.floor_s, cache.persisted_*
# and trace.* are per run).
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.tune_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.load_jobs": "count",
    "registry.build_self_s": "s",
    "registry.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.self_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.failed_task_ratio": "ratio",
    "exec.floor_s": "s",
    "task.run_s": "s",
    "task.cpu_s": "s",
    "task.gc_s": "s",
    "task.scan_ms": "ms",
    "task.compute_ms": "ms",
    "task.exchange_ms": "ms",
    "task.input_mb": "MB",
    "task.shuffle_write_mb": "MB",
    "task.shuffle_read_mb": "MB",
    "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB",
    "cache.served_executions": "count",
    "cache.shared_hits": "count",
    "cache.persisted_rdds": "count",
    "cache.persisted_mb": "MB",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "sinks.output_mb": "MB",
    "sinks.output_rows": "count",
    "sinks.tmp_growth_mb": "MB",
    "trace.executions": "count",
    "trace.latency_geomean_s": "s",
    "trace.unaccounted_max": "ratio",
    "trace.overhead_ratio": "ratio",
}


# Further end-to-end figures printed for a human reader; not gated.
REPORT_UNITS = {
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
    "docs_per_s": "docs/s",
    "events_per_s": "events/s",
    "failed_ratio": "ratio",
    "executions": "count",
    "passes": "count",
}


def report_unit(name: str) -> str:
    unit = END_TO_END.get(name) or REPORT_UNITS.get(name)
    return unit or ("s" if name.endswith("_s") else "")


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values; 0.0 for none."""
    if not values:
        return 0.0
    return math.exp(math.fsum(math.log(v) for v in values) / len(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(s)))
    return s[rank - 1]


def highest_reportable_percentile(n: int, candidates=(99, 95, 90, 75, 50)) -> int | None:
    """The highest candidate percentile with at least ten of ``n``
    samples strictly beyond its nearest rank, or None when even the
    median has fewer than ten beyond it."""
    for q in candidates:
        if n - max(1, math.ceil(q / 100 * n)) >= 10:
            return q
    return None


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover.
    Children are clipped to the span and overlapping children are
    counted once."""
    start, end = span
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
