"""The benchmark's workloads: one pass of each, and the checks on its output.

A workload object is built once per worker process with the generated
inputs.  ``run_pass`` executes one pass and returns the number of
operations attempted and failed; ``verify`` runs the untimed checks that
need more than the pass itself produced.  Every operation is one call the
user of the system would make: one ``analyze`` CLI invocation, or one
registry query materialized through the noop sink.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import io
import json
import math
import os
import shutil
import sys
import traceback
import xml.etree.ElementTree as ET

import numpy as np

# Registry queries per family.  The relational ones run only in the JVM;
# the iterative one loops on the driver and launches Spark jobs while its
# DataFrame is being built.  The set is sized so that a run (set-up, a cold
# pass, warm passes, the oracle check) stays well inside the run budget.
# q5 and q18 are in it for steadiness: without them a warm pass is about
# 5 s of small jobs on 4 cores, and its median spread 0.29-0.31 over ten
# seeds; with them the pass is about 6-7 s, more of it real joins and
# aggregations, and the spread was 0.09-0.22.
RELATIONAL = [
    "q_tpch_q1_pricing_summary", "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_volume", "q_tpch_q18_large_orders",
    "q_tpch_q21_waiting_supplier", "q_join_big_sort_merge", "q_window_rank",
]
ITERATIVE = ["q_kmeans_embed"]


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}",
          file=sys.stderr)


class KmzAnalyze:
    """``python -m pipeline_calculator_v3_spark analyze <kmz> --out-dir``,
    called in-process with default flags."""

    def __init__(self, spark, inputs: dict, work_dir: str, tracer=None):
        from pipeline_calculator_v3_spark.__main__ import main

        self.main = main
        self.kmz = inputs["kmz"]
        self.manifest = inputs["manifest"]
        self.out = os.path.join(work_dir, "analysis_out")

    def run_pass(self) -> tuple[int, int]:
        shutil.rmtree(self.out, ignore_errors=True)
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                rc = self.main(["analyze", self.kmz, "--out-dir", self.out])
            if rc != 0:
                raise RuntimeError(f"analyze returned {rc}")
        except Exception:
            _log_failure("analyze")
            return 1, 1
        return 1, 0

    def check_pass(self) -> int:
        """Untimed check of the last pass's exports; returns failures."""
        try:
            check_analysis(self.out, self.manifest)
        except Exception:
            _log_failure("kmz_analyze output check")
            return 1
        return 0

    def verify(self) -> tuple[int, int]:
        return 0, 0

    def layer_counts(self) -> dict:
        return output_counts(self.out)


def check_analysis(out: str, manifest: dict) -> None:
    """Raise AssertionError unless the exports in ``out`` are correct for
    the generated corpus described by ``manifest``."""
    with open(os.path.join(out, "analysis.json")) as f:
        env = json.load(f)
    pipes = env["pipelines"]
    n = manifest["pipelines"]
    assert len(pipes) == n, f"pipeline count {len(pipes)} != {n}"
    by_name = {p["name"]: p for p in pipes}
    lines = manifest["lines"]
    for i, lonlat in enumerate(lines):
        p = by_name[f"Line {i:05d}"]
        want = _haversine_m(np.asarray(lonlat))
        assert math.isclose(p["length_m"], want, rel_tol=1e-9, abs_tol=1e-6), (
            f"length of line {i}: {p['length_m']} != {want}")
    summary = env["summary"][0]
    total = sum(_haversine_m(np.asarray(ll)) for ll in lines)
    assert math.isclose(summary["total_m"], total, rel_tol=1e-9), (
        f"total length {summary['total_m']} != {total}")
    assert summary["effective_m"] <= summary["total_m"] * (1 + 1e-12), (
        "effective length exceeds total length")
    sections = env["overlap_analysis"]["bundled_sections"]
    ids = {p["pipeline_id"]: int(p["name"].split()[-1]) for p in pipes}
    found = {tuple(sorted((ids[s["p1"]], ids[s["p2"]]))) for s in sections}
    missing = [tuple(p) for p in manifest["planted_pairs"] if tuple(p) not in found]
    assert not missing, f"planted corridor pairs without a section: {missing[:5]}"
    assert _csv_rows(os.path.join(out, "pipelines")) == n, "pipelines CSV rows"
    assert _csv_rows(os.path.join(out, "pipelines_overlaps")) == len(sections), (
        "overlaps CSV rows")
    kmls = glob.glob(os.path.join(out, "corridors", "*.kml"))
    assert len(kmls) == len(sections), (
        f"{len(kmls)} corridor KMLs for {len(sections)} sections")
    for path in kmls:
        ET.parse(path)
    with open(os.path.join(out, "summary.txt")) as f:
        assert f.readline().strip() == f"Total pipelines: {n}", "summary.txt"


def _haversine_m(lonlat: np.ndarray) -> float:
    from kmzgen import haversine_length_m

    return haversine_length_m(lonlat)


def _csv_rows(table_dir: str) -> int:
    rows = 0
    for path in sorted(glob.glob(os.path.join(table_dir, "part-*.csv"))):
        with open(path, newline="") as f:
            rows += max(sum(1 for _ in csv.reader(f)) - 1, 0)
    return rows


def output_counts(out: str) -> dict:
    files = [p for p in glob.glob(os.path.join(out, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    return {"sinks.files": float(len(files)),
            "sinks.bytes": float(sum(os.path.getsize(p) for p in files))}


class Registry:
    """Registry queries over the generated tables, each materialized
    through the noop sink, caches released after each query."""

    def __init__(self, spark, inputs: dict, work_dir: str, tracer=None):
        from pipeline_calculator_v3_spark import caching
        from pipeline_calculator_v3_spark.queries import QUERIES

        self.spark = spark
        self.queries = QUERIES
        self.caching = caching
        self.names = inputs["queries"]
        self.data = inputs["data_dir"]
        self.tracer = tracer

    def _run_one(self, name: str) -> None:
        tr = self.tracer
        if tr is None or not tr.enabled:
            df = self.queries[name](self.spark, self.data)
            df.write.format("noop").mode("overwrite").save()
            self.caching.release_caches(self.spark)
            return
        with tr.span(f"queries.{name}"):
            with tr.span(f"queries.{name}.build"):
                df = self.queries[name](self.spark, self.data)
            with tr.span(f"queries.{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span(f"queries.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
            self.caching.release_caches(self.spark)  # traced by its wrapper

    def run_pass(self) -> tuple[int, int]:
        failed = 0
        for name in self.names:
            try:
                self._run_one(name)
            except Exception:
                _log_failure(name)
                failed += 1
        return len(self.names), failed

    def check_pass(self) -> int:
        return 0

    def verify(self) -> tuple[int, int]:
        """Compare every query's full result with its DuckDB oracle over
        the same files, using the repository's own comparison rules."""
        import duckdb
        from pipeline_calculator_v3_spark.queries import ORACLE_SQL
        from tests.compare import assert_frames_match

        import tablegen

        con = duckdb.connect()
        for t in tablegen.TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        failed = 0
        for name in self.names:
            try:
                got = self.queries[name](self.spark, self.data).toPandas()
                self.caching.release_caches(self.spark)
                assert_frames_match(got, con.execute(ORACLE_SQL[name]).df())
            except Exception:
                _log_failure(f"{name} oracle check")
                failed += 1
        con.close()
        return len(self.names), failed

    def layer_counts(self) -> dict:
        return {}


WORKLOADS = {"kmz_analyze": KmzAnalyze, "registry": Registry}
