"""Spans around calls into the engine, and the reduction of Spark's event
log to per-span and per-plan-node metrics.

A span brackets one call. The harness opens one span per timed
operation; while the traced loop runs, ``Tracer.watching`` also wraps
the public functions listed in ``WATCHED`` so that every call into them,
from a workload or from inside the engine, opens a nested span of its
own with its arguments and return value. Spans nest; the innermost open
span sets the Spark job group ``perfbench-<span id>``, so every job,
stage and task can be attributed to the call that ran it. Nothing here
touches the engine's own code: the wrappers are installed in the loaded
modules' namespaces for the traced loop and removed after it.

Work that a lazy DataFrame defers runs under whichever span triggers
it (usually the operation's own). That work is attributed by the plan
instead: every Python-worker SQL metric belongs to one plan node, and
``node_class`` names the layer of that node from its operator and UDF.
"""

from __future__ import annotations

import importlib
import json
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "perfbench-"

# Spark SQL metric names (task accumulables) -> our counter names.
_TASK_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "scan time": "scan_ms",
}
# Per-node SQL metrics that are kept per node class as well.
_NODE_ACCUMS = dict(_TASK_ACCUMS, **{"number of output rows": "rows_out"})
# Driver-side SQL metrics (posted as DriverAccumUpdates).
_DRIVER_ACCUMS = {
    "number of files read": "files_read",
}

# (layer, module, attribute): the public functions whose calls open a
# span while the traced loop runs. "Class.method" names a method.
WATCHED = [
    ("checkpoint", "pyhctsa_spark.operators.checkpoint", "RollupJob.run"),
    ("rollup", "pyhctsa_spark.operators.rollup", "rollup_tiers"),
    ("router", "pyhctsa_spark.operators.rollup", "rollup_at_resolution"),
    ("router", "pyhctsa_spark.operators.rollup", "cascade_from_store"),
    ("store", "pyhctsa_spark.operators.store", "write_compressed_store"),
    ("store", "pyhctsa_spark.operators.store", "read_compressed_store"),
    ("retention", "pyhctsa_spark.operators.retention", "tier_watermarks"),
    ("retention", "pyhctsa_spark.operators.retention", "apply_retention"),
    ("compaction", "pyhctsa_spark.operators.compaction", "compact_chunks"),
    ("cagg", "pyhctsa_spark.operators.cagg", "cagg_refresh"),
]

_UDF_NAME = re.compile(r"(?:^\S+ |\], )([A-Za-z_][\w.]*)\(")


def node_class(node_name: str, simple: str) -> str | None:
    """The layer whose Python code a plan node runs, from its operator
    and UDF name: the tier kernel is the only mapInArrow (``gapfill``
    when its input is the gapped layout), the archive codec runs as
    ``_encode_block`` / ``_decode_blocks``, and any other grouped pandas
    UDF is the router's residual state merge."""
    m = _UDF_NAME.search(simple)
    udf = m.group(1) if m else ""
    if node_name == "MapInArrow":
        return "gapfill" if "offsets#" in simple else "rollup"
    if udf == "_encode_block":
        return "encode"
    if udf == "_decode_blocks":
        return "decode"
    if node_name == "FlatMapGroupsInPandas":
        return "router"
    return None


class Tracer:
    """Spans in the order they open. A span's ``parent`` is the span
    that was open when it started; its self time is its duration minus
    its children's."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.spark = spark
        self.enabled = enabled and spark is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}",
                           f"{rec['layer']}:{rec['name']}")

    @contextmanager
    def span(self, layer: str, name: str, **tags):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "layer": layer, "name": name,
               "parent": parent["id"] if parent else None, **tags}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec)
            self._set_group(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            if self.enabled:
                self._stack.pop()
                self._set_group(parent)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer, name, args=args, kwargs=kwargs) as rec:
                rec["ret"] = fn(*args, **kwargs)
                if name == "RollupJob.run":
                    # the manifest's own per-bucket wall times
                    rec["bucket_s"] = [
                        e["wall_sec"]
                        for e in args[0].completed_buckets().values()]
            return rec["ret"]

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def watching(self):
        """Wrap every WATCHED function wherever a loaded module holds
        it (its own module, and every module that imported it by
        name); restore the originals on exit."""
        if not self.enabled:
            yield
            return
        undo = []
        for layer, mod_name, attr in WATCHED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(layer, attr, orig))
                undo.append((cls, meth, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(layer, attr, orig)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "")
                if not name.startswith(("pyhctsa_spark", "perfbench")):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                        undo.append((m, k, orig))
        try:
            yield
        finally:
            for obj, k, orig in reversed(undo):
                setattr(obj, k, orig)


def _zero() -> dict:
    return defaultdict(float)


def _walk_plan(node: dict, out: dict[int, tuple[str, str | None]]) -> None:
    cls = node_class(node.get("nodeName", ""), node.get("simpleString", ""))
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], cls)
    for c in node.get("children", []):
        _walk_plan(c, out)


def reduce_event_log(path: Path) -> dict[int, dict]:
    """Span id -> summed metrics of the jobs run under its job group.

    Keys per span: jobs, tasks, task_failures, run_ms, cpu_ms, gc_ms,
    shuffle_write_bytes, spill_bytes, input_records, input_bytes, the
    Python-worker and scan SQL metrics of ``_TASK_ACCUMS``, the driver
    metrics of ``_DRIVER_ACCUMS``, and ``<class>.<metric>`` for the
    node-level metrics of each ``node_class`` (e.g. ``rollup.py_run_ms``,
    ``router.rows_out``). ``py_tasks`` counts tasks that crossed the
    Python worker boundary; ``py_init_ms`` counts only tasks that started
    their worker.
    """
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_info: dict[int, tuple[str, str | None]] = {}
    task_updates: list[tuple[str, list]] = []
    driver_updates: list[tuple[int, int, float]] = []
    per: dict[str, dict] = defaultdict(_zero)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if not g or not g.startswith(GROUP_PREFIX):
                    continue
                per[g]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                xid = props.get("spark.sql.execution.id")
                if xid is not None:
                    exec_group.setdefault(int(xid), g)
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e.get("Stage ID"))
                if g is None:
                    continue
                d = per[g]
                d["tasks"] += 1
                reason = (e.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    d["task_failures"] += 1
                m = e.get("Task Metrics") or {}
                d["run_ms"] += m.get("Executor Run Time", 0)
                d["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                d["gc_ms"] += m.get("JVM GC Time", 0)
                d["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                d["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                im = m.get("Input Metrics") or {}
                d["input_records"] += im.get("Records Read", 0)
                d["input_bytes"] += im.get("Bytes Read", 0)
                # accumulables are resolved to plan nodes once every plan
                # (including adaptive re-plans) has been seen
                task_updates.append(
                    (g, (e.get("Task Info") or {}).get("Accumulables", [])))
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(e.get("sparkPlanInfo") or {}, acc_info)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                xid = e.get("executionId")
                for acc_id, val in e.get("accumUpdates", []):
                    driver_updates.append((xid, acc_id, float(val)))

    for g, accums in task_updates:
        d = per[g]
        task: dict[str, float] = {}
        by_node: dict[str, float] = defaultdict(float)
        for a in accums:
            name, cls = acc_info.get(a.get("ID"), (a.get("Name"), None))
            try:
                val = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            key = _TASK_ACCUMS.get(name)
            if key is not None:
                task[key] = task.get(key, 0.0) + val
            node_key = _NODE_ACCUMS.get(name)
            if cls is not None and node_key is not None:
                by_node[f"{cls}.{node_key}"] += val
        if "py_start_ms" not in task:
            # Spark's init time on a REUSED worker is the time since
            # that worker's previous task (idle time), not init work
            task.pop("py_init_ms", None)
            for k in [k for k in by_node if k.endswith(".py_init_ms")]:
                del by_node[k]
        for key, val in list(task.items()) + list(by_node.items()):
            d[key] += val
        if any(k.startswith("py_") for k in task):
            d["py_tasks"] += 1

    for xid, acc_id, val in driver_updates:
        g = exec_group.get(xid)
        name, _cls = acc_info.get(acc_id, ("", None))
        key = _DRIVER_ACCUMS.get(name)
        if g is not None and key is not None:
            per[g][key] += val

    return {int(g[len(GROUP_PREFIX):]): dict(d) for g, d in per.items()}


class LayerView:
    """Event-log totals and span times over chosen spans.

    ``measured`` is every span of the traced loop except the workloads'
    own correctness checks (layer ``check``) and what runs inside them.
    """

    def __init__(self, tracer: Tracer, log: dict[int, dict]) -> None:
        self.log = log
        self.all = tracer.spans
        self.children: dict[int, list[dict]] = defaultdict(list)
        for s in self.all:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
        self.measured = [s for s in self.all if not self._in_check(s)]
        ids = {s["id"] for s in self.measured}
        self.measured_children = {
            k: [c for c in v if c["id"] in ids]
            for k, v in self.children.items()}

    def _in_check(self, s: dict) -> bool:
        by_id = self.all
        while s is not None:
            if s["layer"] == "check":
                return True
            s = by_id[s["parent"]] if s["parent"] is not None else None
        return False

    def calls(self, name: str) -> list[dict]:
        """Measured spans of calls to the watched function ``name``."""
        return [s for s in self.measured if s["name"] == name]

    def subtree(self, spans) -> list[dict]:
        """``spans`` and every measured span inside them."""
        out, todo = [], list(spans)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.measured_children.get(s["id"], []))
        return out

    def total(self, key: str, spans=None) -> float:
        """Sum of an event-log key over the jobs of ``spans`` (default:
        every measured span)."""
        spans = self.measured if spans is None else spans
        return float(sum(self.log.get(s["id"], {}).get(key, 0.0)
                         for s in spans))

    def seconds(self, spans) -> float:
        return float(sum(s["dur"] for s in spans))

    def self_seconds(self, spans) -> float:
        return float(sum(
            s["dur"] - sum(c["dur"] for c in self.children.get(s["id"], []))
            for s in spans))

    def ops_calling(self, name: str) -> list[dict]:
        """Operation spans with a call to ``name`` somewhere inside."""
        return [op for op in self.measured
                if op["layer"] == "op" and "rec" in op
                and any(s["name"] == name for s in self.subtree([op]))]
