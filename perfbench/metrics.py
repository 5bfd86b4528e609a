"""Every metric the benchmark reports, with its unit, and the end-to-end
metric each per-layer metric is expected to move, on which workload.

End-to-end metrics come from runs with tracing off; per-layer metrics from
a separate traced run. An operation is a query on queries-light, and a
pipeline call, a KPI table read-back or a micro-batch on medallion-stream.

Jobs fired while a query is built count as ``plans.build_jobs``; every other
job of the pass counts in ``exec.*``. ``exec.max_task_over_median`` is the
largest ratio, over those jobs, of the job's slowest task run time to its
median task, so a single-task stage shows against the job's other tasks.
"""

END_TO_END = {
    "setup_s": "s",          # median of 2 set-ups, each a new JVM, session start and warm-up op
    # CPU time of the passes (JVM, Python workers, benchmark), each times
    # PROBE_REF_S over the median host speed probe while it ran
    "scaled_cpu_s": "s",
    "peak_rss_mb": "MB",     # driver JVM plus Python workers, during the pass
    # (input bytes + bytes the pass stored) / input bytes; exactly 1 on
    # queries-light, which stores nothing
    "disk_bytes_per_input_byte": "ratio",
}

#: Layers whose self time is reported as ``<layer>_s``. Together they
#: account for the traced pass's wall time (``trace.wall_s``).
SELF_TIME_LAYERS = (
    "bench", "plans.build", "read.infer", "catalyst.plan", "exec.run",
    "share.checkpoint", "share.release", "pipeline.review", "pipeline.etl",
    "sinks.read_upsert", "stream.lifecycle", "stream.batch", "stream.source",
    "stream.query_planning", "stream.add_batch",
    "stream.wal_commit", "stream.commit_offsets",
)

_COUNTS = {
    "plans.build_jobs": "count", "read.infer_jobs": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.max_task_over_median": "ratio",
    "share.cached_rdds": "count", "share.cached_bytes": "bytes",
    "share.checkpoint_jobs": "count",
    "enrich.batches": "count", "enrich.first_try_ok": "count",
    "enrich.retries": "count", "enrich.null_filled_rows": "count",
    "enrich.llm_wait_s": "s", "enrich.ok_ratio": "ratio", "enrich.map_task_s": "s",
    "pipeline.files_archived": "count",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.manifest_versions": "count", "sinks.stored_bytes_per_input_byte": "ratio",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.state_rows": "count", "stream.state_bytes": "bytes",
    "stream.late_rows_dropped": "count", "stream.state_commit_s": "s",
    "session.start_s": "s", "trace.wall_s": "s",
}

PER_LAYER = {**_COUNTS, **{f"{layer}_s": "s" for layer in SELF_TIME_LAYERS}}

#: per-layer metric (exact name, or prefix) -> (end-to-end metrics it should
#: move, workload); the first key that matches applies. Three kinds of cost
#: move no end-to-end metric, because the pass's wall time is too noisy on a
#: shared host to be one: waiting (``enrich.llm_wait_s`` and the map tasks
#: that hold it), skew and lost parallelism (``exec.max_task_over_median``),
#: and heap growth, since the driver heap is fixed and pre-touched, so heap
#: use never changes ``peak_rss_mb``.
LAYER_TO_END_TO_END = {
    "session.start_s": (("setup_s",), "all"),
    "plans.": (("scaled_cpu_s",), "queries-light"),
    "read.infer": (("scaled_cpu_s",), "queries-light"),
    "catalyst.plan_s": (("scaled_cpu_s",), "queries-light"),
    "exec.max_task_over_median": ((), "medallion-stream; wall time only"),
    "exec.": (("scaled_cpu_s",), "queries-light, medallion-stream"),
    "share.": (("scaled_cpu_s",), "medallion-stream; 0 on queries-light"),
    "enrich.llm_wait_s": ((), "medallion-stream; wall time only"),
    "enrich.map_task_s": ((), "medallion-stream; wall time only"),
    "enrich.": (("scaled_cpu_s",), "medallion-stream; 0 on queries-light"),
    "pipeline.": (("scaled_cpu_s", "disk_bytes_per_input_byte"), "medallion-stream"),
    "sinks.": (("scaled_cpu_s", "disk_bytes_per_input_byte"), "medallion-stream"),
    "stream.": (("scaled_cpu_s",), "medallion-stream"),
    "bench_s": ((), "benchmark glue; should stay near 0"),
    "trace.wall_s": ((), "traced pass wall time; minus the untraced pass wall "
                     "time in the stderr summary = tracing overhead"),
}
