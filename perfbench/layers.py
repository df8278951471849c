"""The per-layer table of a traced loop, reduced the same way on every
workload from the spans of watched calls, the event log, and direct
timings of the kernel, gap-fill and codec functions."""

from __future__ import annotations

from pyhctsa_spark.operators.store import compression_report

from perfbench import micro
from perfbench.harness import median
from perfbench.tracing import LayerView

_PY_KEYS = ("py_start_ms", "py_init_ms", "py_run_ms", "py_bytes_in",
            "py_bytes_out")


def _per_query(view: LayerView, key: str, ops: list[dict]) -> float:
    return view.total(key, view.subtree(ops)) / len(ops) if ops else 0.0


def encoded_ratio(spark, spans) -> float:
    """Raw over compressed bytes of the archives that the loop's
    ``write_compressed_store`` calls wrote (needs the session)."""
    reps = [compression_report(spark, s["args"][1]) for s in spans
            if s["name"] == "write_compressed_store"]
    comp = sum(r["comp_bytes"] or 0 for r in reps)
    return sum(r["raw_bytes"] or 0 for r in reps) / comp if comp else 0.0


def reduce(view: LayerView, n: int, wl, ratio: float) -> dict[str, float]:
    """``n`` is the number of timed operations of the loop, ``ratio``
    what ``encoded_ratio`` gave for its spans."""
    t = view.total
    out: dict[str, float] = {"sources.gen_s": median(wl.gen_s)}

    # worker boundary and the engine as a whole
    for key in _PY_KEYS:
        out[f"worker.{key[3:]}"] = t(key) / n
    out["worker.tasks"] = t("py_tasks") / n
    out["spark.executor_cpu_ms"] = t("cpu_ms") / n
    out["spark.executor_run_ms"] = t("run_ms") / n
    out["spark.gc_ms"] = t("gc_ms") / n
    out["spark.shuffle_write_bytes"] = t("shuffle_write_bytes") / n
    out["spark.spill_bytes"] = t("spill_bytes") / n
    out["spark.task_failures"] = t("task_failures")

    # checkpoint: RollupJob.run calls and everything they ran
    jobs = view.calls("RollupJob.run")
    inside = view.subtree(jobs)
    out["checkpoint.jobs"] = t("jobs", inside) / n
    out["checkpoint.bucket_s"] = median(
        [w for s in jobs for w in s.get("bucket_s", [])])
    out["checkpoint.scan_ms"] = t("scan_ms", inside) / n
    out["checkpoint.self_ms"] = view.self_seconds(jobs) * 1e3 / n

    # the tier kernel, wherever its plan nodes ran (gapped or dense)
    kern = ("rollup", "gapfill")
    out["rollup.run_ms"] = sum(t(f"{c}.py_run_ms") for c in kern) / n
    out["rollup.windows_emitted"] = sum(t(f"{c}.rows_out") for c in kern) / n
    out["rollup.output_bytes"] = sum(t(f"{c}.py_bytes_out") for c in kern) / n
    out["rollup.checksum_mismatches"] = float(sum(
        s["kwargs"]["counters"]["checksum_mismatches"].value
        for s in view.calls("rollup_tiers")
        if s["kwargs"].get("counters")))
    out["gapfill.run_ms"] = t("gapfill.py_run_ms") / n

    # router: the latency of operations that called it, split by whether
    # a residual state merge (cascade_from_store) ran under the call
    routed = view.ops_calling("rollup_at_resolution")
    merged = view.ops_calling("cascade_from_store")
    merged_ids = {op["id"] for op in merged}
    direct = [op for op in routed if op["id"] not in merged_ids]
    out["router.direct_ms"] = median([op["rec"]["t"] * 1e3 for op in direct])
    out["router.merge_ms"] = median([op["rec"]["t"] * 1e3 for op in merged])
    out["router.run_ms"] = t("router.py_run_ms") / n
    returned = sum(len(op["rec"].get("rows", ())) for op in routed)
    out["router.rows_scanned_per_row_returned"] = (
        t("input_records", view.subtree(routed)) / returned
        if returned else 0.0)
    out["router.files_read"] = _per_query(view, "files_read", routed)
    out["router.shuffle_bytes"] = _per_query(
        view, "shuffle_write_bytes", routed)

    # store: archive encode calls, cold reads, the codec's plan nodes
    enc = view.calls("write_compressed_store")
    out["store.encode_s"] = view.seconds(enc) / n
    out["store.shuffle_bytes"] = t("shuffle_write_bytes",
                                   view.subtree(enc)) / n
    cold = view.ops_calling("read_compressed_store")
    out["store.decode_ms"] = median([op["rec"]["t"] * 1e3 for op in cold])
    out["store.decode_run_ms"] = t("decode.py_run_ms") / n
    out["store.compression_ratio"] = ratio

    # retention, compaction, cagg: eager calls and what they returned
    evict = view.calls("apply_retention")
    out["retention.evict_s"] = view.seconds(evict) / n
    out["retention.watermark_s"] = view.seconds(
        view.calls("tier_watermarks")) / n
    evicted = [ev for s in evict for ev in s["ret"]]
    out["retention.chunks_evicted"] = len(evicted) / n
    out["retention.bytes_reclaimed"] = sum(ev["bytes"] for ev in evicted) / n

    comp = view.calls("compact_chunks")
    done = [c for s in comp for c in s["ret"]]
    out["compaction.s"] = view.seconds(comp) / n
    out["compaction.jobs"] = t("jobs", view.subtree(comp)) / n
    out["compaction.chunks"] = len(done) / n
    out["compaction.files_removed"] = sum(
        c["files_before"] - c["files_after"] for c in done) / n
    out["compaction.bytes_rewritten"] = sum(
        c["bytes_before"] for c in done) / n

    refresh = view.calls("cagg_refresh")
    out["cagg.refresh_s"] = view.seconds(refresh) / n
    out["cagg.touched_chunks"] = sum(
        len(s["ret"]["touched_chunks"]) for s in refresh) / n
    out["cagg.delta_states"] = sum(
        s["ret"]["delta_states"] for s in refresh) / n

    # direct timings on the workload's own docs
    out.update(micro.kernel_ns(wl.docs))
    out.update(micro.codec_ns(wl.docs))
    # gap_fill only on workloads whose inputs arrive gapped
    out["gapfill.ns_per_point"] = (
        micro.gapfill_ns(wl.docs, wl.gap_rng(), wl.gap_frac)
        if wl.gap_frac else 0.0)
    return out
