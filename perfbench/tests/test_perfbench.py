"""Self-tests of the benchmark.  Run from the root of the checkout:

    python3 -m pytest perfbench/tests -q

The last two tests start real benchmark workers on tiny inputs and take a
few minutes.
"""

from __future__ import annotations

import functools
import hashlib
import io
import json
import os
import re
import sys
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import kmzgen  # noqa: E402
import layers  # noqa: E402
import tablegen  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _tables_sha(seed: int) -> str:
    h = hashlib.sha256()
    for name, table in sorted(tablegen.generate(seed, 0.001).items()):
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        h.update(name.encode() + buf.getvalue().to_pybytes())
    return h.hexdigest()


@pytest.mark.parametrize("seed", [1, 2, 17])
def test_kmz_generator_is_deterministic(seed):
    a, b = kmzgen.generate(seed), kmzgen.generate(seed)
    assert _sha(a.kmz) == _sha(b.kmz)
    assert a.stats == b.stats and a.planted_pairs == b.planted_pairs
    assert _sha(a.kmz) != _sha(kmzgen.generate(seed + 1).kmz)


@pytest.mark.parametrize("seed", [1, 2])
def test_table_generator_is_deterministic(seed):
    assert _tables_sha(seed) == _tables_sha(seed)
    assert _tables_sha(seed) != _tables_sha(seed + 1)


def test_kmz_corpus_shape():
    c = kmzgen.generate(3, n_pipelines=300)
    s = c.stats
    assert s["pipelines"] == 300 == len(c.lines)
    assert 12 <= s["median_vertices"] <= 22
    assert s["max_vertices"] > 5 * s["median_vertices"]  # long tail
    assert 0.3 <= s["corridor_share"] <= 0.55
    assert s["planted_pairs"] and len(s["planted_pairs"]) == len(c.planted_pairs)
    assert s["segments"] > 0 and s["vertices"] == sum(len(ll) for ll in c.lines)
    with zipfile.ZipFile(io.BytesIO(c.kmz)) as z:
        kml = z.read("doc.kml").decode()
    assert kml.count("<Placemark>") == 300
    assert "<SimpleData name=\"OBJECTID\">" in kml


def test_planted_pairs_are_within_detection_range():
    c = kmzgen.generate(4, n_pipelines=120)
    for a, b in c.planted_pairs:
        la, lb = c.lines[a], c.lines[b]
        assert len(la) == len(lb)
        mid = len(la) // 2
        d = kmzgen.haversine_length_m(np.array([la[mid], lb[mid]]))
        assert 4.0 < d < kmzgen.DETECTION_M


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, description):
        self.props = {"spark.jobGroup.id": group, "spark.job.description": description}

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_span_self_time_and_job_labels():
    import tracing

    sc = _FakeContext()
    tr = tracing.Tracer(sc, "wl")
    tr.pass_id = 3
    with tr.span("outer"):
        assert sc.props["spark.job.description"] == "wl:outer#3"
        with tr.span("inner"):
            assert sc.props["spark.jobGroup.id"] == "wl:inner"
        assert sc.props["spark.job.description"] == "wl:outer#3"
    assert sc.props["spark.job.description"] is None
    outer, inner = tr.self_times()
    assert inner["parent"] == outer["id"] and outer["pass"] == 3
    assert outer["self"] == pytest.approx(outer["dur"] - inner["dur"])
    tr.enabled = False
    with tr.span("off"):
        pass
    assert len(tr.spans) == 2


def test_event_log_attribution(tmp_path):
    import tracing

    def task(stage, run_ms, accs=()):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"ID": i, "Name": n, "Update": str(u)} for i, n, u in accs]},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 10**6}}

    plan = {"nodeName": "Project", "simpleString": "Project", "children": [
        {"nodeName": "FlatMapGroupsInPandas",
         "simpleString": "FlatMapGroupsInPandas [pipeline_id#1L], f, [seg_index#2L]",
         "metrics": [{"name": "time to run Python workers", "accumulatorId": 77}],
         "children": []}]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [5],
         "Properties": {"spark.job.description": "wl:sinks.write_csv#1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [6],
         "Properties": {"spark.job.description": "other"}},
        task(5, 1000, [(77, "time to run Python workers", 400)]),
        task(6, 9000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 5}},
        # the cached plan that owns accumulator 77 is logged after its tasks
        {"Event": "SparkListenerSQLAdaptiveExecutionUpdate", "sparkPlanInfo": plan},
    ]
    (tmp_path / "app").write_text("".join(
        json.dumps(e, separators=(",", ":")) + "\n" for e in events))
    got = tracing.read_event_log(str(tmp_path), "wl")
    assert set(got) == {("sinks.write_csv", 1)}
    c = got[("sinks.write_csv", 1)]
    assert c["spark.jobs"] == 1 and c["spark.stages"] == 1 and c["spark.tasks"] == 1
    assert c["spark.executor_run_s"] == pytest.approx(1.0)
    assert c["spark.python_total_s"] == pytest.approx(0.4)
    assert c["operators.segmentize.kernel_s"] == pytest.approx(0.4)


def test_benchmark_json_names():
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in BENCH[key]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert [m["name"] for m in BENCH["per_layer"]] == list(layers.LAYERS)
    assert {w["name"] for w in BENCH["workloads"]} == set(workloads.WORKLOADS)
    assert len(BENCH["per_layer"]) <= 128
    assert {"setup_s", "pass_s"} <= {m["name"] for m in BENCH["end_to_end"]}


def _run(monkeypatch, workload, trace):
    import run

    monkeypatch.setattr(run, "ROOT", ROOT)
    monkeypatch.setattr(kmzgen, "generate",
                        functools.partial(kmzgen.generate, n_pipelines=10))
    monkeypatch.setattr(run, "REGISTRY_SF", 0.001)
    return run.run(workload, seed=5, seconds=1, trace=trace)


def _check_record(out, section):
    assert out["attempted"] >= 1
    assert out["failed"] == 0 and out["error_rate"] == 0
    allowed = {m["name"] for m in BENCH[section]}
    assert set(out["metrics"]) == allowed
    for name, m in out["metrics"].items():
        assert NAME.fullmatch(name)
        assert isinstance(m["value"], float)


def test_tiny_kmz_run_traced(monkeypatch):
    out = _run(monkeypatch, "kmz_analyze", trace=True)
    _check_record(out, "per_layer")
    m = out["metrics"]
    assert m["sources.kml.pipelines"]["value"] == 10
    assert m["operators.segmentize.segments"]["value"] > 0
    assert m["spark.jobs"]["value"] > 0


def test_tiny_registry_run(monkeypatch):
    out = _run(monkeypatch, "registry", trace=False)
    _check_record(out, "end_to_end")
    assert out["metrics"]["pass_s"]["value"] > 0
