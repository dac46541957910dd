"""Names and units of every metric the benchmark prints.

End-to-end metrics are common to all workloads; README.md says what
each one measures on which workload. Per-layer metrics are named after
the repository's modules; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
}

PACKAGES = ("operators", "sources", "dedup", "similarity", "functions", "multimodal")
PACKAGE_FIELDS = {
    "builder_s": "s", "plan_s": "s", "execute_s": "s", "eager_jobs": "count",
    "task_s": "s", "jvm_cpu_s": "s", "gc_s": "s", "python_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "rdds_leaked": "count",
    "broadcasts_leaked": "count",
}
OTHER_LAYERS = {
    "sources.emrlog.latest_offset_ms_p50": "ms",
    "sources.emrlog.latest_offset_ms_p99": "ms",
    "plans.script_start_s": "s",
    "plans.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.trigger_ms_p99": "ms",
    "streaming.window_latency_p50_ms": "ms",
    "streaming.window_latency_p90_ms": "ms",
    "streaming.backlog_rows_max": "rows",
    "streaming.backlog_slope_rows_per_s": "rows/s",
    "streaming.state_rows": "rows",
    "streaming.rows_dropped_by_watermark": "rows",
    "streaming.empty_batch_ratio": "ratio",
    "generator.lateness_ms_p99": "ms",
    "generator.lateness_ms_max": "ms",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.cold_setup_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.trigger_self_ms_mean": "ms",
    "trace.record_s": "s",
}
LAYER_UNITS = {
    **{f"{p}.{f}": u for p in PACKAGES for f, u in PACKAGE_FIELDS.items()},
    **OTHER_LAYERS,
}
