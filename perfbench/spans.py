"""Span recorder and Spark event-log reader for the traced run.

The traced run wraps public functions of the program's modules from
the outside: each wrapped call records a span (name, start, end,
parent span, operation trace id) and, while it runs, makes its span id
the Spark job group of the calling thread, so every job, stage and task
Spark starts inside the call is attributed to it. Spans stay in memory
and are written out when the run ends.

The event log (switched on only for the traced run) is read afterwards
for task metrics, and for the SQL metrics of the Arrow-evaluation nodes
that measure the Python-worker boundary.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "pbspan-"

#: (module, attribute, span name) of every wrapped public function.
#: Attributes containing a dot are methods of a class in the module.
TARGETS = [
    ("integrator_spark.io", "load_table", "io.load_table"),
    ("integrator_spark.io", "register_views", "io.register_views"),
    ("integrator_spark.io", "table_rows", "io.table_rows"),
    ("integrator_spark.pipeline", "IntegrationPipeline.run", "pipeline.run"),
    ("integrator_spark.pipeline", "IntegrationPipeline.harmonize",
     "pipeline.harmonize"),
    ("integrator_spark.pipeline", "IntegrationPipeline.validate",
     "pipeline.validate"),
    ("integrator_spark.pipeline", "IntegrationPipeline.publish",
     "pipeline.publish"),
    ("integrator_spark.operators.harmonize", "rules_frame",
     "harmonize.rules_frame"),
    ("integrator_spark.operators.harmonize", "apply_rules",
     "harmonize.apply_rules"),
    ("integrator_spark.operators.dedup", "minhash_signatures",
     "dedup.minhash_signatures"),
    ("integrator_spark.operators.dedup", "minhash_bands", "dedup.minhash_bands"),
    ("integrator_spark.operators.dedup", "minhash_det_pairs",
     "dedup.minhash_det_pairs"),
    ("integrator_spark.operators.dedup", "connected_components",
     "dedup.connected_components"),
    ("integrator_spark.operators.dedup", "exact_dedup_keep_first",
     "dedup.exact_dedup_keep_first"),
    ("integrator_spark.operators.knn", "knn_exact", "ann.knn_exact"),
    ("integrator_spark.operators.knn", "knn_blocked", "ann.knn_blocked"),
    ("integrator_spark.operators.ivf", "train_centroids", "ann.train_centroids"),
    ("integrator_spark.operators.pq", "ivfpq_train", "ann.ivfpq_train"),
    ("integrator_spark.operators.pq", "ivfpq_encode", "ann.ivfpq_encode"),
    ("integrator_spark.operators.pq", "ivfpq_search", "ann.ivfpq_search"),
    ("integrator_spark.streaming.jobs", "run_available_now", "streaming.drain"),
]


class Tracer:
    """In-memory span recorder with Spark job-group attribution."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self.sc = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span_id is None else f"{GROUP_PREFIX}{span_id}")

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        rec = {"id": span_id, "name": name,
               "parent": stack[-1] if stack else None,
               "trace": self.trace_id, "t0": time.time()}
        stack.append(span_id)
        self._set_group(span_id)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        """Wrap every TARGET in its defining module and in every loaded
        module that imported it by name."""
        import importlib

        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self.wrap(getattr(cls, meth), span_name))
                continue
            orig = getattr(mod, attr)
            traced = self.wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if getattr(m, "__dict__", {}).get(attr) is orig:
                    setattr(m, attr, traced)


# ----------------------------------------------------------- event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_ROWS = "number of output rows"


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Collect accumulator ids of the SQL metrics of plan nodes that
    evaluate Python (nodes carrying the Python data-sent metric)."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in metrics:
        out[metrics[_PY_SENT]] = "sent"
        if _PY_RECV in metrics:
            out[metrics[_PY_RECV]] = "recv"
        if _PY_ROWS in metrics:
            out[metrics[_PY_ROWS]] = "rows"
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _event_lines(path: str):
    """Lines of an event log: one file, or a rolling-log directory of
    ``events_<n>_...`` files read in order."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in
                 sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            yield from fh


def read_event_log(path: str) -> dict:
    """Jobs (with job group and stage ids), stage submit times, and one
    record per finished task with the metrics the report needs."""
    jobs: dict[int, dict] = {}
    stage_submit: dict[int, float] = {}
    tasks: list[dict] = []
    py_acc: dict[int, str] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "t": ev["Submission Time"] / 1000.0,
                "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            py = {"sent": 0, "recv": 0, "rows": 0}
            for acc in info.get("Accumulables", []):
                key = py_acc.get(acc.get("ID"))
                if key is not None:
                    py[key] += int(acc.get("Update") or 0)
            tasks.append({
                "stage": ev["Stage ID"],
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "failed": bool(info.get("Failed")),
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output_b": (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0),
                "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write_b": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill_b": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "py": py})
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    return {"jobs": jobs, "stage_submit": stage_submit, "tasks": tasks}


# ------------------------------------------------------------- analysis

def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, end), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def attribute(spans: list[dict], log: dict, window: tuple[float, float]) -> dict:
    """Attribute each job started in the measured window to its span,
    and roll task metrics up per job, per span name and in total."""
    by_id = {s["id"]: s for s in spans}
    stage_job: dict[int, int] = {}
    for jid, job in sorted(log["jobs"].items()):
        for st in job["stages"]:
            stage_job.setdefault(st, jid)
    in_window = {jid for jid, j in log["jobs"].items()
                 if window[0] <= j["t"] <= window[1]}
    job_span: dict[int, int | None] = {}
    for jid in in_window:
        group = log["jobs"][jid]["group"] or ""
        sid = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
        job_span[jid] = sid if sid in by_id else None
    per_stage: dict[int, list[dict]] = {}
    for t in log["tasks"]:
        jid = stage_job.get(t["stage"])
        if jid in in_window:
            per_stage.setdefault(t["stage"], []).append(t)
    skews = []
    for stage_tasks in per_stage.values():
        if len(stage_tasks) >= 2:
            med = statistics.median(t["run_s"] for t in stage_tasks)
            if med > 0:
                skews.append(max(t["run_s"] for t in stage_tasks) / med)

    def blank() -> dict:
        return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "sched_wait_s": 0.0,
                "input_b": 0, "output_b": 0, "shuffle_read_b": 0,
                "shuffle_write_b": 0, "spill_b": 0, "py_sent": 0, "py_recv": 0,
                "py_rows": 0}

    per_job = {}
    for jid in in_window:
        acc = per_job[jid] = blank()
        acc["jobs"] = 1
        for st in log["jobs"][jid]["stages"]:
            if stage_job.get(st) != jid or st not in per_stage:
                continue
            submit = log["stage_submit"].get(st)
            acc["stages"] += 1
            for t in per_stage[st]:
                acc["tasks"] += 1
                acc["failed_tasks"] += t["failed"]
                for k in ("run_s", "cpu_s", "gc_s", "input_b", "output_b",
                          "shuffle_read_b", "shuffle_write_b", "spill_b"):
                    acc[k] += t[k]
                for k in ("sent", "recv", "rows"):
                    acc["py_" + k] += t["py"][k]
            if submit is not None:
                first = min(t["launch"] for t in per_stage[st])
                acc["sched_wait_s"] += max(first - submit, 0.0)
    total, per_name = blank(), {}
    for jid, acc in per_job.items():
        sid = job_span[jid]
        name = by_id[sid]["name"] if sid is not None else "(unattributed)"
        for dst in (total, per_name.setdefault(name, blank())):
            for k, v in acc.items():
                dst[k] += v
    unattributed = sum(1 for v in job_span.values() if v is None)
    return {"total": total, "per_name": per_name, "per_job": per_job,
            "job_span": job_span,
            "unattributed_share": unattributed / len(in_window) if in_window else 0.0,
            "task_skew": statistics.mean(skews) if skews else 0.0}


def subtree_sum(spans: list[dict], attributed: dict, root_name: str,
                key: str) -> float:
    """Sum ``key`` over jobs attributed to spans named ``root_name`` or
    to their descendants."""
    parent = {s["id"]: s["parent"] for s in spans}
    names = {s["id"]: s["name"] for s in spans}
    total = 0.0
    for jid, sid in attributed["job_span"].items():
        while sid is not None:
            if names[sid] == root_name:
                total += attributed["per_job"][jid][key]
                break
            sid = parent[sid]
    return total
