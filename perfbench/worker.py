"""One benchmark process: set up a session, run a cold pass, run warm passes
for a fixed time, check the outputs, and write the timings as JSON.

Started by ``run.py`` with the path of a JSON config.  It runs from the
root of the checkout, so the package imports from there.  In a traced run
it also wraps each layer's public functions in spans, labels Spark jobs,
and writes the span file; ``run.py`` reads the event log afterwards.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _instrument(tracer) -> None:
    """Wrap the public functions each layer exposes, at the names their
    callers look them up by.  Nothing inside the package changes."""
    import pipeline_calculator_v3_spark.caching as caching
    import pipeline_calculator_v3_spark.plans.overlap as overlap
    import pipeline_calculator_v3_spark.session as session
    import pipeline_calculator_v3_spark.sinks as sinks
    import pipeline_calculator_v3_spark.sources.kml as kml

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(kml, "read_pipelines", "sources.kml.read_pipelines")
    tracer.wrap(overlap, "analyze_pipelines", "plans.overlap.analyze_pipelines")
    # plans.overlap binds these names at import; wrap them there
    tracer.wrap(overlap, "segmentize", "operators.segmentize.segmentize")
    tracer.wrap(overlap, "distance_self_join",
                "operators.spatial.distance_self_join")
    tracer.wrap(overlap, "corridor_polygons",
                "operators.corridor.corridor_polygons")
    for fn in ("write_csv", "write_json", "write_txt_summary",
               "write_corridor_kml"):
        tracer.wrap(sinks, fn, f"sinks.{fn}")
    tracer.wrap(caching, "release_caches", "caching.release_caches")


def _layer_counts(tracer, spark) -> dict:
    """Counts of the work each layer did, taken from the DataFrames the
    wrapped calls returned in the last pass (untimed, own job group)."""
    from pyspark.sql import functions as F

    out = tracer.outputs
    counts = {}
    spark.sparkContext.setJobGroup("perfbench:count", "perfbench:count")
    pipes = out.get("sources.kml.read_pipelines")
    if pipes is not None:
        row = pipes.agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.size("geometry")).alias("v")).first()
        counts["sources.kml.pipelines"] = float(row.n)
        counts["sources.kml.vertices"] = float(row.v or 0)
    seg = out.get("operators.segmentize.segmentize")
    pairs = out.get("operators.spatial.distance_self_join")
    if seg is not None:
        counts["operators.segmentize.segments"] = float(seg.count())
    if pairs is not None:
        counts["operators.spatial.pairs"] = float(pairs.count())
        if counts.get("operators.segmentize.segments"):
            counts["operators.spatial.pairs_per_segment"] = (
                counts["operators.spatial.pairs"]
                / counts["operators.segmentize.segments"])
    results = out.get("plans.overlap.analyze_pipelines")
    if results is not None:
        counts["plans.overlap.sections"] = float(results["sections"].count())
    from pipeline_calculator_v3_spark.caching import release_caches

    release_caches(spark)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setLocalProperty("spark.job.description", None)
    return counts


def main(config_path: str) -> int:
    with open(config_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)

    from pipeline_calculator_v3_spark import session

    import workloads

    traced = cfg["trace"]
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm-up
    setup_s = time.monotonic() - cfg["t_spawn"]

    tracer = None
    if traced:
        from tracing import Tracer

        tracer = Tracer(spark.sparkContext, cfg["workload"])
        _instrument(tracer)
    wl = workloads.WORKLOADS[cfg["workload"]](
        spark, cfg["inputs"], cfg["work_dir"], tracer)

    # In a traced run the cold pass is traced, the first warm pass runs
    # untraced to let the JIT settle (it is still markedly slower), and the
    # rest go traced, untraced, untraced, traced, ...; the difference of the
    # two kinds after the settling pass is the tracing overhead.
    passes, traced_flags, attempted, failed = [], [], 0, 0
    counts: dict = {}
    deadline = None
    while True:
        pid = len(passes)
        on = tracer is not None and (pid == 0 or (pid >= 2 and (pid - 2) % 4 in (0, 3)))
        if tracer is not None:
            tracer.pass_id, tracer.enabled = pid, on
        t = time.perf_counter()
        if on:
            with tracer.span("pass"):
                ops, bad = wl.run_pass()
        else:
            ops, bad = wl.run_pass()
        passes.append(time.perf_counter() - t)
        traced_flags.append(on)
        attempted += ops
        failed += bad + (wl.check_pass() if not bad else 0)
        if deadline is None:  # the cold pass is done; start the clock
            deadline = time.perf_counter() + cfg["seconds"]
        elif time.perf_counter() >= deadline and len(passes) > cfg["min_warm"]:
            break
    # the passes are over: memory the counting and checking below take is
    # not the program's, and run.py stops taking the peak here
    open(cfg["passes_done_path"], "w").close()
    if tracer is not None:
        tracer.pass_id, tracer.enabled = None, True
        counts = {**_layer_counts(tracer, spark), **wl.layer_counts()}
    ops, bad = wl.verify()
    attempted += ops
    failed += bad

    result = {
        "setup_s": setup_s,
        "get_spark_s": get_spark_s,
        "passes": passes,
        "traced": traced_flags,
        "attempted": attempted,
        "failed": failed,
        "counts": counts,
        "conf": {
            "spark.sql.shuffle.partitions":
                spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.sql.adaptive.coalescePartitions.minPartitionSize":
                spark.conf.get(
                    "spark.sql.adaptive.coalescePartitions.minPartitionSize"),
            "spark.master": spark.sparkContext.master,
            "spark.driver.memory":
                spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark_version": spark.version,
        },
    }
    spark.stop()
    if tracer is not None:
        tracer.write(cfg["spans_path"])
        result["spans"] = tracer.self_times()
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
