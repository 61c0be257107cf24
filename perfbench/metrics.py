"""Metric names and units: the end-to-end set a ``--trace 0`` run prints and
the per-layer set a ``--trace 1`` run prints. Layer metrics are named
``<module>.<metric>`` after the engine module they measure."""

from __future__ import annotations

# The engine modules the workloads' queries dispatch to (registry fn module,
# ``sdp_spark.`` prefix dropped; templated MySQL text counts as ``dialect``).
LAYER_MODULES = (
    "dialect",
    "functions.families",
    "operators.aggregates",
    "operators.analytics",
    "operators.catalog",
    "operators.corpus",
    "operators.fulltext",
    "operators.insights",
    "operators.joins",
    "operators.llm",
    "operators.scans",
    "operators.sortlimit",
    "operators.stats",
    "operators.subqueries",
    "operators.windows",
    "streaming.ops",
)

# streaming.ops.<name> <- StreamingQueryProgress.durationMs[<key>]
STREAM_FIELDS = (
    ("trigger_ms", "triggerExecution"),
    ("add_batch_ms", "addBatch"),
    ("query_planning_ms", "queryPlanning"),
    ("wal_commit_ms", "walCommit"),
    ("latest_offset_ms", "latestOffset"),
)

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "qps": "queries/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "rebuild_pass_s": "s",
    "peak_rss_mb": "MiB",
    "scratch_left_mb": "MiB",
    "ok_ratio": "ratio",
    "correct_ratio": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.registry.load_all_s": "s",
    "sources.fixtures.load_tables_s": "s",
    "sources.fixtures.table_calls": "count",
    "sources.fixtures.table_s": "s",
    "dialect.translate_calls": "count",
    "dialect.translate_s": "s",
    **{f"{m}.{k}": u for m in LAYER_MODULES
       for k, u in (("build_s", "s"), ("exec_s", "s"), ("calls", "count"),
                    ("spark_jobs", "count"), ("rebuild_extra_s", "s"))},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.workers_cpu_s": "s",
    "proc.jvm_peak_rss_mb": "MiB",
    "proc.jvm_old_gen_peak_mb": "MiB",
    "memo.released": "count",
    "memo.unpersist_s": "s",
    "memo.rebuild_extra_s": "s",
    "streaming.ops.batches": "count",
    "streaming.ops.input_rows": "count",
    **{f"streaming.ops.{name}": "ms" for name, _ in STREAM_FIELDS},
    "scratch.dirs_created": "count",
    "scratch.cache_mb": "MiB",
    "scratch.leaked_mb": "MiB",
    "trace.qps_traced": "queries/s",
    "trace.qps_untraced": "queries/s",
    "trace.overhead_pct": "%",
}
