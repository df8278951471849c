"""Benchmark of the pyhctsa_spark engine. Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest|query|maintain \\
        --seed N --seconds S --trace 0|1

``--trace 0`` measures the end-to-end metrics with tracing off and prints
them; ``--trace 1`` runs the workload untraced, traced (Spark event log
on, one job group per span) and untraced again, and prints the
per-layer metrics, including the tracing overhead. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. The lines before it repeat the metrics with their units,
plus the workload's named figures. Any failed correctness check makes
``correct`` false and the exit code 1.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.tracing import LayerView, Tracer, reduce_event_log  # noqa: E402


def _workload(run):
    from perfbench.workloads.ingest import Ingest
    from perfbench.workloads.maintain import Maintain
    from perfbench.workloads.query import Query

    return {"ingest": Ingest, "query": Query, "maintain": Maintain}[
        run.workload](run)


def _set_up(run, wl, n_reps: int) -> dict:
    """Session start (with warm-up) once, then ``n_reps`` full set-ups of
    the inputs and stores; the last one is kept."""
    session_s = run.start_session(event_log=False)
    t0 = time.perf_counter()
    wl.warm_up(run.dir / "warm")
    session_s += time.perf_counter() - t0
    reps = []
    for r in range(n_reps):
        d = run.dir / f"setup{r}"
        t0 = time.perf_counter()
        wl.setup(d)
        reps.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(run.dir / f"setup{r - 1}", ignore_errors=True)
    return {"setup_s": session_s + harness.median(reps),
            "session_s": session_s, "reps": reps}


def _loop(run, wl, tracer, label: str) -> list[dict]:
    """Untimed, untraced warm-up operations (first-use costs of the code
    paths), then the timed loop, one span per operation, with the
    watched engine functions wrapped. Every operation is verified; only
    the timed ones feed the metrics."""
    warm = [run.attempt(wl.warm_op, i) for i in range(wl.warm_ops)]

    def op(i):
        with tracer.span("op", wl.name, i=i) as sp:
            sp["rec"] = wl.op(i, tracer)
        return sp["rec"]

    with tracer.watching():
        recs = run.timed_loop(op, first=wl.warm_ops,
                              multiple=wl.ops_multiple, seconds=run.seconds)
    wl.verify(warm, recs)
    run.tally(warm + recs, label)
    print(f"{label}: warm-up ms: "
          + " ".join(f"{r['t'] * 1e3:.1f}" for r in warm)
          + "; timed ops ms: " + " ".join(f"{r['t'] * 1e3:.1f}" for r in recs))
    return recs


def _print_lines(metrics: dict, units: dict) -> None:
    for k, v in metrics.items():
        print(f"  {k:<40} {v:>16.6g} {units[k]}")


def _report(run, wl, recs) -> None:
    print(f"workload {run.workload}: {len(recs)} operations, "
          f"{sum(r['t'] for r in recs):.3f} s timed")
    for name, value, unit, note in wl.report(recs):
        print(f"  {name:<40} {value:>16.6g} {unit}  {note}")
    print(f"  {'error_rate':<40} {run.failed / max(1, run.attempted):>16.6g} "
          f"ratio  ({run.failed} failed / {run.attempted} attempted)")


def _fresh_context(run, wl, event_log: bool, label: str) -> None:
    run.stop_session()
    run.start_session(event_log=event_log)
    wl.bind()
    wl.warm_up(run.dir / f"warm-{label}")


def execute(run) -> dict:
    wl = _workload(run)
    # setup_s is an end-to-end metric only: a traced run sets up once
    setup = _set_up(run, wl, 1 if run.trace else harness.SETUP_REPS)
    print(run.env_line())
    print(f"setup: session+warm-up {setup['session_s']:.3f} s, set-ups "
          + ", ".join(f"{x:.3f}" for x in setup["reps"]) + " s")

    if not run.trace:
        recs = _loop(run, wl, Tracer(), "untraced")
        _report(run, wl, recs)
        metrics = {"setup_s": setup["setup_s"],
                   "op_p50_ms": wl.op_p50_ms(recs),
                   "store_bytes_per_point": wl.store_bytes_per_point(recs)}
        print("end-to-end:")
        _print_lines(metrics, END_TO_END)
        return metrics

    from perfbench import layers

    # Traced run: untraced, traced, untraced loops, each in a fresh
    # context warmed up the same way; only the traced one has the event
    # log on. The overhead compares the traced loop with the mean of its
    # two neighbours, so a drift of the host or the JVM cancels.
    p50 = {}
    for label in ("untraced-1", "traced", "untraced-2"):
        traced = label == "traced"
        _fresh_context(run, wl, traced, label)
        tracer = Tracer(run.spark, enabled=traced)
        recs = _loop(run, wl, tracer, label)
        p50[label] = wl.op_p50_ms(recs)
        if label == "untraced-1":
            _report(run, wl, recs)
        if traced:
            ratio = layers.encoded_ratio(run.spark, tracer.spans)
            run.stop_session()  # flushes the event log
            view = LayerView(tracer, reduce_event_log(run.event_log_file()))
            out = layers.reduce(view, wl.n_ops(recs), wl, ratio)
            out["trace.ops"] = float(len(recs))
    base = (p50["untraced-1"] + p50["untraced-2"]) / 2
    out["trace.overhead_ms"] = p50["traced"] - base
    out["trace.overhead_pct"] = 100.0 * (p50["traced"] - base) / base
    print("op p50 ms: " + ", ".join(f"{k} {v:.1f}" for k, v in p50.items()))
    unknown = set(out) ^ set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics not matching the catalogue: "
                       f"{sorted(unknown)}")
    layers_out = {k: out[k] for k in PER_LAYER}
    print("per-layer (traced loop):")
    _print_lines(layers_out, PER_LAYER)
    return layers_out


def main(argv=None) -> int:
    args = harness.parse_args(sys.argv[1:] if argv is None else argv)
    if not harness.program_present():
        print("perfbench: the pyhctsa_spark package is not in this checkout "
              f"({harness.ROOT}); run from the root of a full checkout",
              file=sys.stderr)
        return 2
    run = harness.Run(args)
    run.prepare()
    try:
        metrics = execute(run)
    finally:
        run.close()
    units = PER_LAYER if run.trace else END_TO_END
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
