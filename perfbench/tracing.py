"""Tracing for the traced run: spans kept in memory, Spark job attribution,
and the Spark event log turned into per-pass engine counters.

Spans are recorded by the benchmark around calls into the package's public
functions; nothing inside the package is traced.  Each span has a name, a
start, an end, a parent and a pass id.  Before a span's call the tracer
sets the Spark job group to ``<workload>:<span name>`` and the job
description to ``<workload>:<span name>#<pass>``, so every job the call
launches can be tied back to its span and pass from the event log.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self.outputs: dict[str, object] = {}
        self.pass_id: int | None = None
        self.enabled = True  # off: spans and labels are skipped
        self._stack: list[int] = []

    def _label(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.workload}:{name}",
                                f"{self.workload}:{name}#{self.pass_id}")

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "pass": self.pass_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._label(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._label(self.spans[parent]["name"] if parent is not None else None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs inside a span and
        keeps its last return value for counting after the pass."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            self.outputs[name] = out
            return out

        setattr(module, attr, traced)

    def self_times(self) -> list[dict]:
        """Each span with ``dur`` and ``self``: its duration minus the part
        of it that its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered = 0.0
            end = s["start"]
            for a, b in sorted(children[s["id"]]):
                a = max(a, end)
                if b > a:
                    covered += b - a
                    end = b
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur, "self": dur - covered})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.self_times():
                f.write(json.dumps(s) + "\n")


# --- Spark event log ---------------------------------------------------------

# Python UDF node metrics (PythonSQLMetrics, milliseconds), per task
_PY_METRICS = {
    "time to start Python workers": "spark.python_boot_s",
    "time to initialize Python workers": "spark.python_init_s",
    "time to run Python workers": "spark.python_total_s",
    "data sent to Python workers": "spark.python_data_sent_bytes",
    "data returned from Python workers": "spark.python_data_received_bytes",
}


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    vals = {
        "spark.tasks": 1.0,
        "spark.executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "spark.executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "spark.jvm_gc_s": m.get("JVM GC Time", 0) / 1e3,
        "spark.shuffle_read_bytes": float(
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
        "spark.shuffle_write_bytes": float(sw.get("Shuffle Bytes Written", 0)),
        "spark.spill_bytes": float(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_METRICS.get(acc.get("Name"))
        if key and acc.get("Update") is not None:
            scale = 1.0 if key.endswith("_bytes") else 1e-3
            vals[key] = vals.get(key, 0.0) + float(acc["Update"]) * scale
    return vals


# The package's pandas kernels, told apart by the plan node that runs them
# (node name, a marker in the node's description).  Their "time to run
# Python workers" metric is summed per layer as ``<layer>.kernel_s``.
_KERNELS = (
    ("MapInPandas", "geometry#", "sources.kml"),
    ("FlatMapGroupsInPandas", "seg_index#", "operators.segmentize"),
    ("FlatMapGroupsInPandas", "[p1#", "operators.corridor"),
)


def _kernel_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Map the Python run-time metric of each kernel node in a plan tree to
    the layer that owns the kernel."""
    for node_name, marker, layer in _KERNELS:
        if plan.get("nodeName") == node_name and marker in plan.get("simpleString", ""):
            for m in plan.get("metrics", []):
                if m.get("name") == "time to run Python workers":
                    out[m["accumulatorId"]] = f"{layer}.kernel_s"
    for child in plan.get("children", []):
        _kernel_accumulators(child, out)


def read_event_log(log_dir: str, workload: str) -> dict:
    """Engine counters from the event log, keyed by ``(span name, pass)``.

    Only jobs whose description the tracer set (``<workload>:<name>#<pass>``)
    count.  Each entry holds jobs, stages, tasks, executor run/CPU/GC
    seconds, shuffle and spill bytes, the Python worker metrics and the
    run time of each pandas kernel (``<layer>.kernel_s``)."""
    job_label: dict[int, tuple[str, int | None]] = {}
    stage_job: dict[int, int] = {}
    kernel_acc: dict[int, str] = {}
    py_run: dict = defaultdict(float)
    out: dict = defaultdict(lambda: defaultdict(float))
    prefix = f"{workload}:"
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    if not desc.startswith(prefix) or "#" not in desc:
                        continue
                    name, _, pid = desc[len(prefix):].rpartition("#")
                    key = (name, None if pid == "None" else int(pid))
                    job_label[ev["Job ID"]] = key
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                    out[key]["spark.jobs"] += 1
                elif "InPandas" in line and "sparkPlanInfo" in line:
                    _kernel_accumulators(json.loads(line)["sparkPlanInfo"], kernel_acc)
                elif '"Event":"SparkListenerStageCompleted"' in line:
                    ev = json.loads(line)
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        out[job_label[job]]["spark.stages"] += 1
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    job = stage_job.get(ev.get("Stage ID"))
                    if job is None:
                        continue
                    counters = out[job_label[job]]
                    for k, v in _task_counters(ev).items():
                        counters[k] += v
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if (acc.get("Name") == "time to run Python workers"
                                and acc.get("Update") is not None):
                            py_run[(job_label[job], acc["ID"])] += float(acc["Update"])
    # a cached plan's nodes may first appear in a later query's plan, so the
    # kernel accumulators are resolved after the whole log is read
    for (key, acc_id), ms in py_run.items():
        layer = kernel_acc.get(acc_id)
        if layer:
            out[key][layer] += ms / 1e3
    return {k: dict(v) for k, v in out.items()}
