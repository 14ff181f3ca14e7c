"""Metric names, units and directions — the single list ``run.py`` prints
and ``BENCHMARK.json`` declares.

Every workload reports every metric.  What an end-to-end metric times
depends on the workload's unit of work (README.md, "End-to-end metrics"); a per-layer
metric of a layer the workload does not run reads 0.
"""

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("throughput_per_cpu_s", "1/s", "higher"),
]

# the ROADMAP item-1 queries the workload runs (README.md, "Workloads")
ENGINE_QUERIES = [
    "collector_split_accounting",
    "collector_enrich_events",
    "dedup_cdc_apply",
    "q5_local_supplier_volume",
]

PER_LAYER = [
    ("server.append_ms_p50", "ms", "lower"),
    ("server.append_ms_p99", "ms", "lower"),
    ("server.landing_files", "count", "lower"),
    ("server.rows_per_file", "count", "higher"),
    ("streaming.batches", "count", "lower"),
    ("streaming.rows_per_batch_p50", "count", "higher"),
    ("streaming.trigger_ms_p50", "ms", "lower"),
    ("streaming.add_batch_ms_p50", "ms", "lower"),
    ("streaming.overhead_ms_p50", "ms", "lower"),
    ("streaming.parts_miss_max", "ratio", "lower"),
    ("streaming.scan_amplification", "ratio", "lower"),
    ("pipeline.build_ms_p50", "ms", "lower"),
    ("pipeline.jobs_per_batch", "count", "lower"),
    ("split.payloads_in", "count", "lower"),
    ("split.payloads_out", "count", "lower"),
    ("split.bad_out", "count", "lower"),
    ("split.py_busy_s", "s", "lower"),
    ("sinks.good_write_s_p50", "s", "lower"),
    ("sinks.bad_write_s_p50", "s", "lower"),
    ("sinks.bytes_per_event", "B", "lower"),
    ("sinks.files_per_epoch", "count", "lower"),
    ("sinks.retries", "count", "lower"),
    ("engine.build_s", "s", "lower"),
    ("engine.build_jobs", "count", "lower"),
    ("engine.analysis_ms", "ms", "lower"),
    ("engine.optimization_ms", "ms", "lower"),
    ("engine.planning_ms", "ms", "lower"),
    ("engine.exec_s", "s", "lower"),
    ("engine.build_share", "ratio", "lower"),
    ("engine.unaccounted_share_max", "ratio", "lower"),
    ("engine.shuffle_read_bytes", "B", "lower"),
    ("engine.shuffle_write_bytes", "B", "lower"),
    ("engine.spill_bytes", "B", "lower"),
    ("engine.tasks", "count", "lower"),
    *[(f"engine.{q}.{part}", "s", "lower") for q in ENGINE_QUERIES for part in ("build_s", "exec_s")],
    ("session.spark_start_s", "s", "lower"),
    ("session.tables_s", "s", "lower"),
    ("session.cold_pass_s", "s", "lower"),
    ("session.peak_pss_mb", "MB", "lower"),
    ("trace.throughput_per_cpu_s", "1/s", "higher"),
    ("trace.overhead_share", "ratio", "lower"),
    ("trace.spans", "count", "higher"),
]
