"""The benchmark's metric catalogue: names and units.

``END_TO_END`` is what every untraced run prints in its result line
(every workload reports every one of them, never 0). ``PER_LAYER`` is
what every traced run prints. Every per-layer metric is reduced the same
way on every workload (``layers.py``), so a layer a workload does not
exercise reads 0 because nothing of it ran. BENCHMARK.json lists the
same names. "/op" is per timed operation.
"""

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "store_bytes_per_point": "bytes/point",
}

PER_LAYER = {
    # sources (set-up input generation)
    "sources.gen_s": "s",
    # the Python worker boundary, over every Python plan node
    "worker.start_ms": "ms/op",
    "worker.init_ms": "ms/op",
    "worker.run_ms": "ms/op",
    "worker.bytes_in": "bytes/op",
    "worker.bytes_out": "bytes/op",
    "worker.tasks": "tasks/op",
    # operators/checkpoint.py RollupJob.run calls
    "checkpoint.jobs": "jobs/op",
    "checkpoint.bucket_s": "s",
    "checkpoint.scan_ms": "ms/op",
    "checkpoint.self_ms": "ms/op",
    # the tier kernel's plan nodes (mapInArrow of rollup_tiers)
    "rollup.run_ms": "ms/op",
    "rollup.windows_emitted": "windows/op",
    "rollup.checksum_mismatches": "count",
    "rollup.output_bytes": "bytes/op",
    "kernel.states_ns_per_point": "ns/point",
    "kernel.merge_ns_per_window": "ns/window",
    "kernel.finalize_ns_per_window": "ns/window",
    "kernel.iqr_ns_per_point": "ns/point",
    # gap-filled tier kernel nodes; direct gap_fill timing on gapped inputs
    "gapfill.run_ms": "ms/op",
    "gapfill.ns_per_point": "ns/point",
    # rollup_at_resolution / cascade_from_store
    "router.direct_ms": "ms",
    "router.merge_ms": "ms",
    "router.run_ms": "ms/op",
    "router.rows_scanned_per_row_returned": "ratio",
    "router.files_read": "files/query",
    "router.shuffle_bytes": "bytes/query",
    # operators/store.py + functions/codec.py
    "store.encode_s": "s/op",
    "store.decode_ms": "ms",
    "store.decode_run_ms": "ms/op",
    "store.compression_ratio": "ratio",
    "store.shuffle_bytes": "bytes/op",
    "codec.gorilla_encode_ns_per_value": "ns/value",
    "codec.gorilla_decode_ns_per_value": "ns/value",
    "codec.dod_encode_ns_per_value": "ns/value",
    "codec.dod_decode_ns_per_value": "ns/value",
    # operators/retention.py
    "retention.evict_s": "s/op",
    "retention.watermark_s": "s/op",
    "retention.chunks_evicted": "chunks/op",
    "retention.bytes_reclaimed": "bytes/op",
    # operators/compaction.py
    "compaction.s": "s/op",
    "compaction.jobs": "jobs/op",
    "compaction.chunks": "chunks/op",
    "compaction.files_removed": "files/op",
    "compaction.bytes_rewritten": "bytes/op",
    # operators/cagg.py
    "cagg.refresh_s": "s/op",
    "cagg.touched_chunks": "chunks/op",
    "cagg.delta_states": "states/op",
    # the engine as a whole, over every measured span
    "spark.executor_cpu_ms": "ms/op",
    "spark.executor_run_ms": "ms/op",
    "spark.gc_ms": "ms/op",
    "spark.shuffle_write_bytes": "bytes/op",
    "spark.spill_bytes": "bytes/op",
    "spark.task_failures": "count",
    # the cost of tracing: traced op p50 minus the mean of the op p50s
    # of the untraced loops run just before and just after it
    "trace.overhead_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.ops": "count",
}
