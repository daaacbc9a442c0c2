"""Per-layer metrics of the traced run, and the end-to-end metric and
workload each one should move.

Layer names are the package's module names.  A ``*_s`` metric of a layer
function is the wall time spent inside calls to that function during one
warm pass (the median over the traced run's warm passes).  The package
builds DataFrames lazily, so for ``segmentize``, ``distance_self_join``,
``corridor_polygons`` and ``analyze_pipelines`` that time is plan building
plus any job the call runs eagerly; their execution happens inside the
sinks and the CLI's own collects, and shows in the ``spark.*`` counters.
The three pandas kernels (KML parse, segmentize, corridor) also report
``kernel_s``: the executor time their plan nodes spent running Python,
summed over the pass's tasks, wherever the job that ran them came from.
Counts come from the DataFrames those calls returned, counted once after
the last pass.  ``spark.*`` counters are per warm pass, from the event log.
"""

from __future__ import annotations

import statistics

from tracing import read_event_log
from workloads import ITERATIVE, RELATIONAL

KMZ = "kmz_analyze"
REG = "registry"
ALL = "all"

# metric -> (end-to-end metric it should move, workload); the unit and
# direction of each are in BENCHMARK.json
LAYERS: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("setup_s", ALL),
    "sources.kml.read_pipelines_s": ("pass_s, cold_pass_s", KMZ),
    "sources.kml.kernel_s": ("pass_s, cold_pass_s", KMZ),
    "sources.kml.pipelines": ("pass_s", KMZ),
    "sources.kml.vertices": ("pass_s", KMZ),
    "operators.segmentize.segmentize_s": ("pass_s", KMZ),
    "operators.segmentize.kernel_s": ("pass_s", KMZ),
    "operators.segmentize.segments": ("pass_s", KMZ),
    "operators.spatial.distance_self_join_s": ("pass_s", KMZ),
    "operators.spatial.pairs": ("pass_s", KMZ),
    "operators.spatial.pairs_per_segment": ("pass_s", KMZ),
    "plans.overlap.build_s": ("pass_s", KMZ),
    "plans.overlap.build_jobs": ("pass_s", KMZ),
    "plans.overlap.sections": ("pass_s", KMZ),
    "operators.corridor.corridor_polygons_s": ("pass_s", KMZ),
    "operators.corridor.kernel_s": ("pass_s", KMZ),
    "sinks.write_csv_s": ("pass_s, peak_rss_mb", KMZ),
    "sinks.write_json_s": ("pass_s, peak_rss_mb", KMZ),
    "sinks.write_txt_summary_s": ("pass_s", KMZ),
    "sinks.write_corridor_kml_s": ("pass_s", KMZ),
    "sinks.files": ("pass_s", KMZ),
    "sinks.bytes": ("pass_s", KMZ),
    "caching.release_caches_s": ("pass_s, peak_rss_mb", ALL),
}
for _q in RELATIONAL + ITERATIVE:
    _moves = "pass_s (build)" if _q in ITERATIVE else "pass_s (exec)"
    for _m in ("build_s", "build_jobs", "plan_s", "exec_s", "tasks"):
        LAYERS[f"queries.{_q}.{_m}"] = (_moves, REG)
for _m, _moves in (
    ("jobs", "pass_s"),
    ("stages", "pass_s"),
    ("tasks", "pass_s"),
    ("executor_run_s", "pass_s"),
    ("executor_cpu_s", "pass_s"),
    ("jvm_gc_s", "pass_s, peak_rss_mb"),
    ("shuffle_read_bytes", "pass_s"),
    ("shuffle_write_bytes", "pass_s"),
    ("spill_bytes", "pass_s, peak_rss_mb"),
    ("task_utilization", "pass_s"),
    ("python_boot_s", "cold_pass_s, pass_s"),
    ("python_init_s", "cold_pass_s, pass_s"),
    ("python_total_s", "cold_pass_s, pass_s"),
    ("python_data_sent_bytes", "pass_s"),
    ("python_data_received_bytes", "pass_s"),
):
    LAYERS[f"spark.{_m}"] = (_moves, ALL)
LAYERS["trace.overhead_s"] = ("none (traced minus untraced pass_s)", ALL)

# layer function metric -> the span name the tracer gives its calls
_SPAN_METRICS = {
    "sources.kml.read_pipelines_s": "sources.kml.read_pipelines",
    "operators.segmentize.segmentize_s": "operators.segmentize.segmentize",
    "operators.spatial.distance_self_join_s":
        "operators.spatial.distance_self_join",
    "plans.overlap.build_s": "plans.overlap.analyze_pipelines",
    "operators.corridor.corridor_polygons_s":
        "operators.corridor.corridor_polygons",
    "sinks.write_csv_s": "sinks.write_csv",
    "sinks.write_json_s": "sinks.write_json",
    "sinks.write_txt_summary_s": "sinks.write_txt_summary",
    "sinks.write_corridor_kml_s": "sinks.write_corridor_kml",
}
# spans whose jobs run while analyze_pipelines builds its DataFrames
_OVERLAP_BUILD = ("plans.overlap.analyze_pipelines",
                  "operators.segmentize.segmentize",
                  "operators.spatial.distance_self_join",
                  "operators.corridor.corridor_polygons")


def per_layer(workload: str, traced: dict, log_dir: str, cores: int,
              units: dict[str, str]) -> tuple[dict, list[dict]]:
    """Per-layer metrics of a traced run and the table that tags each one
    with its unit and the end-to-end metric and workload it should move."""
    spans = traced["spans"]
    warm = sorted({s["pass"] for s in spans
                   if s["pass"] is not None and s["pass"] > 0})
    engine = read_event_log(log_dir, workload)

    def span_s(name: str, pid: int) -> float:
        return sum(s["dur"] for s in spans if s["name"] == name and s["pass"] == pid)

    def jobs(names, key: str, pid: int) -> float:
        return sum(engine.get((n, pid), {}).get(key, 0.0) for n in names)

    def med(f) -> float:
        return statistics.median(f(p) for p in warm)

    m: dict[str, float] = {
        "session.get_spark_s": traced["get_spark_s"],
        "caching.release_caches_s": med(
            lambda p: span_s("caching.release_caches", p)),
    }
    if workload == KMZ:
        for metric, span in _SPAN_METRICS.items():
            m[metric] = med(lambda p, span=span: span_s(span, p))
        m["plans.overlap.build_jobs"] = med(
            lambda p: jobs(_OVERLAP_BUILD, "spark.jobs", p))
        for layer in ("sources.kml", "operators.segmentize", "operators.corridor"):
            key = f"{layer}.kernel_s"
            m[key] = med(lambda p, key=key: sum(
                c.get(key, 0.0) for (_n, pid), c in engine.items() if pid == p))
    else:
        for q in RELATIONAL + ITERATIVE:
            base = f"queries.{q}"
            for part in ("build", "plan", "exec"):
                m[f"{base}.{part}_s"] = med(
                    lambda p, n=f"{base}.{part}": span_s(n, p))
            m[f"{base}.build_jobs"] = med(
                lambda p: jobs([f"{base}.build"], "spark.jobs", p))
            m[f"{base}.tasks"] = med(
                lambda p: jobs([f"{base}.exec"], "spark.tasks", p))
    m.update(traced.get("counts", {}))

    # engine counters per warm pass: every labelled job of that pass
    per_pass = {}
    for p in warm:
        tot: dict[str, float] = {}
        for (name, pid), c in engine.items():
            if pid == p:
                for k, v in c.items():
                    tot[k] = tot.get(k, 0.0) + v
        tot["spark.task_utilization"] = (
            tot.get("spark.executor_run_s", 0.0) / (traced["passes"][p] * cores))
        per_pass[p] = tot
    for metric in LAYERS:
        if metric.startswith("spark."):
            m[metric] = statistics.median(per_pass[p].get(metric, 0.0) for p in warm)
    after = list(zip(traced["passes"], traced["traced"]))[2:]  # past settling
    on = [t for t, f in after if f]
    off = [t for t, f in after if not f]
    m["trace.overhead_s"] = statistics.median(on) - statistics.median(off)

    table = [
        {"metric": k, "value": m.get(k, 0.0), "unit": units[k], "moves": mv,
         "workload": wl, "measured": k in m}
        for k, (mv, wl) in LAYERS.items()
    ]
    return m, table
