"""End-to-end overlap analysis on the FIXTURES.md §B geometry fixtures —
golden-value tests replacing the reference's eyeball-only smoke harness
(SURVEY.md §5)."""

from __future__ import annotations

import math

import pytest

from pipeline_calculator_v3_spark import caching
from pipeline_calculator_v3_spark.caching import release_caches
from pipeline_calculator_v3_spark.functions.geodesy import EARTH_RADIUS_M
from pipeline_calculator_v3_spark.plans.overlap import analyze_pipelines
from pipeline_calculator_v3_spark.session import scoped_conf
from tests.compare import assert_frames_match

DEG_PER_M_LAT = 180.0 / (math.pi * EARTH_RADIUS_M)
T1_SCHEMA = (
    "pipeline_id bigint, name string, "
    "geometry array<struct<lon:double, lat:double>>"
)


def _pipes(spark, rows):
    return spark.createDataFrame(rows, T1_SCHEMA)


def line(lon, lat, length_m, dlon=0.0):
    return [
        {"lon": lon, "lat": lat},
        {"lon": lon + dlon, "lat": lat + length_m * DEG_PER_M_LAT},
    ]


@pytest.fixture(scope="module")
def g1(spark):
    # G1: two lines ~55 km apart — parse/length smoke, zero overlap
    return analyze_pipelines(
        _pipes(
            spark,
            [
                (1, "Pipeline A", [{"lon": -100.0, "lat": 40.0}, {"lon": -101.0, "lat": 41.0}]),
                (2, "Pipeline B", [{"lon": -100.0, "lat": 40.5}, {"lon": -101.0, "lat": 41.5}]),
            ],
        )
    )


def test_g1_lengths_and_no_overlap(g1):
    lengths = {r.pipeline_id: r.length_m for r in g1["lengths"].collect()}
    assert len(lengths) == 2
    for v in lengths.values():
        assert 135_000 < v < 145_000  # ~140 km haversine (FIXTURES.md G1)
    assert g1["sections"].count() == 0
    # no overlap -> effective == total, savings 0
    s = g1["summary"].collect()[0]
    assert abs(s.effective_m - s.total_m) < 1e-6
    assert s.savings_m == 0.0


def _g2_rows():
    # G2: two parallel lines 10 m apart, 400 m long -> one bundled section
    lon_off = 10.0 / (111320.0 * math.cos(math.radians(31.5)))
    return [
        (1, "A", line(-103.5, 31.5, 400.01)),
        (2, "B", line(-103.5 - lon_off, 31.5, 400.01)),
    ]


@pytest.fixture(scope="module")
def g2(spark):
    return analyze_pipelines(_pipes(spark, _g2_rows()))


def test_g2_overlap_positive(g2):
    secs = g2["sections"].collect()
    assert len(secs) == 1
    sec = secs[0]
    # bundled_length counts HIT ROWS x 5 m (reference semantics, :434):
    # each seg1 pairs with up to 5 nearby seg2 -> ~80*5 hits -> ~2000 m
    assert 350 <= sec.bundled_length_m <= 2000
    # hits include diagonal pairs (10, 11.2, 14.1 m) -> mean ~12.1 m
    assert 9.0 < sec.average_separation < 14.5
    assert sec.oriented_width_m <= 30.0  # clamp 2 x detection range
    # polygons: closed rings with >= 5 points
    assert len(sec.oriented_polygon) >= 5
    assert sec.oriented_polygon[0] == sec.oriented_polygon[-1]
    s = g2["summary"].collect()[0]
    assert 0 < s.effective_m < s.total_m
    assert s.savings_m > 0
    # two fully-parallel lines: effective ~ total/2 + tails -> savings near 50%
    assert 30.0 < s.savings_pct <= 50.5


def test_g2_per_pipeline_rollup(g2):
    roll = {r.pipeline_id: r.bundled_segments for r in g2["per_pipeline_overlap"].collect()}
    assert set(roll) == {1, 2}
    assert all(60 <= v <= 80 for v in roll.values())


def _g4_rows():
    # G4: three parallel 400 m lines, 8 m spacing -> k=3 in the middle
    lon8 = 8.0 / (111320.0 * math.cos(math.radians(31.5)))
    return [
        (1, "A", line(-103.5, 31.5, 400.01)),
        (2, "B", line(-103.5 - lon8, 31.5, 400.01)),
        (3, "C", line(-103.5 - 2 * lon8, 31.5, 400.01)),
    ]


@pytest.fixture(scope="module")
def g4(spark):
    return analyze_pipelines(_pipes(spark, _g4_rows()))


def test_g4_three_way_cluster(g4):
    s4 = g4["summary"].collect()[0]
    total = s4.total_m
    # strictly less effective than the 2-pipeline case; >= total/3
    assert total / 3 - 1e-6 <= s4.effective_m < total * 0.75
    # middle line sees k=3: 3 pair-sections (A-B, B-C, A-C at 16m > 15m? no:
    # A-C is ~16 m apart -> outside range, so 2 sections)
    assert g4["sections"].count() == 2


def test_parameter_echo_and_clamps(spark):
    res = analyze_pipelines(
        _pipes(spark, [(1, "A", line(0.0, 0.0, 100.01))]),
        detection_range_m=0.5,     # clamps to 1
        min_parallel_m=5,          # clamps to 10
        segment_length_m=0.2,      # clamps to 1
        angular_tolerance_deg=120, # clamps to 90
    )
    s = res["summary"].collect()[0]
    assert s.param_detection_range_m == 1.0
    assert s.param_min_parallel_m == 10.0
    assert s.param_segment_length_m == 1.0
    assert s.param_angular_tolerance_deg == 90.0


ENVELOPE = ("lengths", "sections", "per_pipeline_overlap", "summary")


def _envelope_at(spark, rows, shuffle_partitions):
    """The analysis of ``rows`` built and collected at one shuffle
    partition count; the caches are released before returning."""
    with scoped_conf(spark, "spark.sql.shuffle.partitions",
                     str(shuffle_partitions)):
        res = analyze_pipelines(_pipes(spark, rows))
        out = {name: res[name].toPandas() for name in ENVELOPE}
    release_caches(spark)
    return out


def _polygons_as_text(pdf):
    # polygon columns are arrays of structs; compare them exactly, as text
    for c in ("oriented_polygon", "corridor_polygon"):
        pdf[c] = pdf[c].map(lambda ring: repr([tuple(p) for p in ring]))
    return pdf


@pytest.mark.parametrize("rows", [_g2_rows, _g4_rows], ids=["g2", "g4"])
def test_envelope_invariant_under_shuffle_partitions(spark, rows):
    """AQE may coalesce the cached frames to any partition count; the
    envelope, corridor polygons included, must not depend on it."""
    a = _envelope_at(spark, rows(), 4)
    b = _envelope_at(spark, rows(), 32)
    assert len(a["sections"]) > 0
    for name in ENVELOPE:
        if name == "sections":
            a[name], b[name] = _polygons_as_text(a[name]), _polygons_as_text(b[name])
        assert_frames_match(a[name], b[name])


def _scan_root(df):
    """First physical operator of ``df``'s plan below the AQE wrapper and
    any columnar-to-row conversion."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = [ln.lstrip(" +-:*()0123456789").split(" ")[0]
             for ln in plan.splitlines()]
    return next(n for n in names
                if n not in ("AdaptiveSparkPlan", "ColumnarToRow"))


def test_consumers_read_cached_frames(spark):
    """The tables the CLI and sinks read more than once are served from
    their caches, and AQE coalesced every cached frame (segments, pairs
    and kept_hits included) below the session's shuffle partition count."""
    release_caches(spark)
    res = analyze_pipelines(_pipes(spark, _g2_rows()))
    cached = list(caching._TRACKED_DFS)
    # lengths, totals, segments, pairs, kept_hits, sections, summary
    assert len(cached) == 7
    for name in ("lengths", "totals", "sections", "summary"):
        assert _scan_root(res[name]) == "InMemoryTableScan", name
        res[name].collect()
    res["per_pipeline_overlap"].collect()  # materializes pairs / kept_hits
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for df in cached:
        assert df.rdd.getNumPartitions() < n_shuffle, df.columns
    release_caches(spark)
