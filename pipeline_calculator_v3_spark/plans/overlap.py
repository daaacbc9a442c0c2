"""End-to-end pipeline overlap analysis — reference op 22
(``analyze_complete``, src/pipeline_calculator_v3.py:849-899) as a Spark DAG.

Input: a T1 `pipelines` DataFrame (pipeline_id, name,
geometry ARRAY<STRUCT<lon,lat>>).  Output: a dict of DataFrames mirroring the
reference's result envelope (:885-897).

DAG (SURVEY.md §3): pipelines -> vertices -> lengths -> totals
                                   \\-> segments -> distance join (pairs)
                                         -> sessions (kept_hits) ->
                                            {sections+corridors, per-pipeline
                                             rollup, effective -> summary}

Every frame read more than once is persisted (tracked, so
``caching.release_caches`` frees it after the last export):

- ``lengths``: ``totals``, ``effective``, the CSV and JSON exports;
- ``totals``: the CLI's totals line and the TXT summary;
- ``segments``: both sides of the pairs self-join and the op-21
  effective-length join;
- ``pairs``: sessionization and the op-21 neighbour count;
- ``kept_hits``: the section aggregates, the corridor kernel and the
  per-pipeline rollup;
- ``sections``: the CLI's top-k table, the CSV and JSON exports and the
  corridor KML loop;
- ``summary``: the CLI's effective line, the JSON and TXT exports.

So each pandas kernel (segmentize, corridor) runs once per analysis, not
once per consumer.  The reference mutates pipeline dicts in place to attach
segments (:298) and re-walks them three times; the caches are the
explicit-DAG equivalent (SURVEY.md §7 'hard parts').

The persists are registered with
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` on, so AQE
may coalesce each cached plan's shuffle output by its measured size
instead of keeping ``spark.sql.shuffle.partitions`` blocks: every later
read of a cache then runs one task per coalesced block, and every task
of a consumer that calls Python pays a worker start-up.  Spark reads the
conf when ``persist()`` builds the cached plan, not when an action runs,
so it is scoped to the persist calls alone and no other query on the
session sees it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import (
    ANGULAR_TOLERANCE_DEG,
    DEFAULT_DETECTION_RANGE_M,
    MIN_PARALLEL_LENGTH_M,
    SEGMENT_LENGTH_M,
    US_SURVEY_MILE_M,
)
from ..caching import persist_tracked
from ..functions.geodesy import haversine_m
from ..operators.corridor import corridor_polygons
from ..operators.segmentize import segmentize
from ..operators.spatial import distance_self_join
from ..session import scoped_conf


def _persist(df: DataFrame) -> DataFrame:
    """``persist_tracked`` with AQE free to coalesce the cached plan's
    output partitions (see the module docstring)."""
    with scoped_conf(
        df.sparkSession,
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true",
    ):
        return persist_tracked(df)


def _clamp_params(detection_range, min_parallel, segment_length, angular_tol):
    """GUI-side parameter clamps are part of the engine contract
    (src/pipeline_calculator_v3.py:1075-1078)."""
    return (
        max(detection_range, 1.0),
        max(min_parallel, 10.0),
        max(segment_length, 1.0),
        min(max(angular_tol, 1.0), 90.0),
    )


def overlap_summary(
    effective: DataFrame,
    detection_range_m: float,
    min_parallel_m: float,
    segment_length_m: float,
    angular_tolerance_deg: float,
) -> DataFrame:
    """Op 22 result envelope over an ``effective`` table (pipeline_id,
    length_m, effective_m): totals, effective clamped to [0, total], savings
    with div-0 guard, analysis-parameter echo
    (src/pipeline_calculator_v3.py:872-896)."""
    return (
        effective.agg(
            F.sum("length_m").alias("total_m"),
            F.sum("effective_m").alias("raw_effective_m"),
        )
        .select(
            "total_m",
            F.least(F.greatest("raw_effective_m", F.lit(0.0)), F.col("total_m")).alias(
                "effective_m"
            ),  # clamp eff in [0, total] (:872)
        )
        .select(
            "total_m",
            "effective_m",
            F.greatest(F.col("total_m") - F.col("effective_m"), F.lit(0.0)).alias(
                "savings_m"
            ),  # (:873)
            F.when(
                F.col("total_m") > 0,
                (F.col("total_m") - F.col("effective_m")) / F.col("total_m") * 100.0,
            ).otherwise(0.0).alias("savings_pct"),  # div-0 guard (:879)
            F.lit(detection_range_m).alias("param_detection_range_m"),
            F.lit(min_parallel_m).alias("param_min_parallel_m"),
            F.lit(segment_length_m).alias("param_segment_length_m"),
            F.lit(angular_tolerance_deg).alias("param_angular_tolerance_deg"),
        )
    )


def analyze_pipelines(
    pipelines: DataFrame,
    detection_range_m: float = DEFAULT_DETECTION_RANGE_M,
    min_parallel_m: float = MIN_PARALLEL_LENGTH_M,
    segment_length_m: float = SEGMENT_LENGTH_M,
    angular_tolerance_deg: float = ANGULAR_TOLERANCE_DEG,
) -> dict[str, DataFrame]:
    detection_range_m, min_parallel_m, segment_length_m, angular_tolerance_deg = (
        _clamp_params(
            detection_range_m, min_parallel_m, segment_length_m, angular_tolerance_deg
        )
    )

    # vertices: posexplode of the geometry column
    vertices = pipelines.select(
        "pipeline_id",
        F.posexplode("geometry").alias("pos", "pt"),
    ).select("pipeline_id", "pos", F.col("pt.lon").alias("lon"), F.col("pt.lat").alias("lat"))

    # ops 8-10: per-pipeline geodesic length + totals
    w = Window.partitionBy("pipeline_id").orderBy("pos")
    hops = vertices.select(
        "pipeline_id",
        haversine_m(
            F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
        ).alias("hop_m"),
    )
    lengths = _persist(
        hops.groupBy("pipeline_id")
        .agg(F.coalesce(F.sum("hop_m"), F.lit(0.0)).alias("length_m"))
        .join(pipelines.select("pipeline_id", "name"), "pipeline_id")
        .select(
            "pipeline_id", "name", "length_m",
            (F.col("length_m") / US_SURVEY_MILE_M).alias("length_mi"),
        )
    )
    totals = _persist(
        lengths.agg(
            F.sum("length_m").alias("total_m"),
            (F.sum("length_m") / US_SURVEY_MILE_M).alias("total_mi"),
            F.count(F.lit(1)).cast("bigint").alias("n_pipelines"),
        )
    )

    # op 11: 5 m segments — persisted: reused by ops 12 and 21.
    # MEMORY_AND_DISK_DESER (== DataFrame cache()): corpus-scale segment
    # state spills to disk instead of evicting and re-running the pandas-UDF
    # resampler; deserialized storage keeps re-reads cheap.
    segments = _persist(segmentize(vertices, segment_length_m))

    # op 12: distance + bearing self-join — persisted: BOTH the
    # sessionization branch and the op-21 neighbor branch consume it, and
    # without persistence the plan's most expensive shuffle (grid join +
    # 9x neighbor explode + haversine recheck) executed once per branch
    # (review r06)
    pairs = _persist(
        distance_self_join(
            segments,
            detection_range_m,
            bearing_tol_deg=angular_tolerance_deg,
            keep_coords=True,
        )
    )

    # ops 13-14: sort + 2-index gap sessionization (signed deltas,
    # src/pipeline_calculator_v3.py:421-422)
    ws = Window.partitionBy("p1", "p2").orderBy("seg1", "seg2")
    flagged = pairs.withColumn(
        "is_new",
        F.when(
            (F.col("seg1") - F.lag("seg1").over(ws) > 2)
            | (F.col("seg2") - F.lag("seg2").over(ws) > 2)
            | F.lag("seg1").over(ws).isNull(),
            1,
        ).otherwise(0),
    )
    hits = flagged.withColumn(
        "section",
        F.sum("is_new").over(ws.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )

    # HAVING: sections >= min_parallel (:425,429); keep hit rows of kept
    # sections for corridor geometry + rollups
    wsec = Window.partitionBy("p1", "p2", "section")
    kept_hits = _persist(
        hits.withColumn("sec_n", F.count(F.lit(1)).over(wsec))
        .where(F.col("sec_n") * segment_length_m >= min_parallel_m)
        .drop("sec_n", "is_new")
    )

    # op 15 aggregates + ops 16-17 corridor geometry — persisted: the
    # corridor kernel is the plan's costliest Python stage, and four
    # consumers read the table
    sections = _persist(
        kept_hits.groupBy("p1", "p2", "section")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            (F.count(F.lit(1)) * segment_length_m).alias("bundled_length_m"),
            (F.count(F.lit(1)) * segment_length_m / US_SURVEY_MILE_M).alias(
                "bundled_length_mi"
            ),
            F.avg("dist_m").alias("average_separation"),
        )
        .join(
            corridor_polygons(kept_hits, detection_range_m, segment_length_m),
            ["p1", "p2", "section", "n_hits"],
        )
        .orderBy(F.desc("bundled_length_mi"))  # op 19 (:744-745)
    )

    # op 18: per-pipeline distinct bundled segments rollup (:714-716,748-756)
    exploded = kept_hits.select(
        F.col("p1").alias("pipeline_id"), F.col("seg1").alias("seg")
    ).unionAll(
        kept_hits.select(F.col("p2").alias("pipeline_id"), F.col("seg2").alias("seg"))
    )
    per_pipeline_overlap = (
        exploded.groupBy("pipeline_id")
        .agg(F.countDistinct("seg").cast("bigint").alias("bundled_segments"))
        .select(
            "pipeline_id",
            "bundled_segments",
            (F.col("bundled_segments") * segment_length_m).alias("bundled_length_m"),
            (
                F.col("bundled_segments") * segment_length_m / US_SURVEY_MILE_M
            ).alias("bundled_length_mi"),
        )
    )

    # op 21: k-cluster effective length + per-pipeline tails (:824-845)
    neighbors = pairs.select(
        F.col("p1").alias("p"), F.col("seg1").alias("i"), F.col("p2").alias("o")
    ).unionAll(
        pairs.select(F.col("p2").alias("p"), F.col("seg2").alias("i"), F.col("p1").alias("o"))
    )
    k = neighbors.groupBy("p", "i").agg((F.countDistinct("o") + 1).alias("k"))
    seg_eff = (
        segments.join(
            k,
            (k.p == segments.pipeline_id) & (k.i == segments.seg_index),
            "left",
        )
        .select(
            "pipeline_id",
            (F.col("length") / F.coalesce("k", F.lit(1))).alias("eff_m"),
            "length",
        )
        .groupBy("pipeline_id")
        .agg(F.sum("eff_m").alias("seg_eff_m"), F.sum("length").alias("seg_total_m"))
    )
    effective = (
        lengths.join(seg_eff, "pipeline_id", "left")
        .select(
            "pipeline_id",
            "length_m",
            (
                F.coalesce("seg_eff_m", F.lit(0.0))
                + F.greatest(
                    F.col("length_m") - F.coalesce("seg_total_m", F.lit(0.0)),
                    F.lit(0.0),
                )  # un-segmented tail remainder (:839-845)
            ).alias("effective_m"),
        )
    )

    # op 22 envelope: clamps + savings + parameter echo (:872-896)
    summary = _persist(
        overlap_summary(
            effective,
            detection_range_m,
            min_parallel_m,
            segment_length_m,
            angular_tolerance_deg,
        )
    )

    return {
        "lengths": lengths,
        "totals": totals,
        "segments": segments,
        "sections": sections,
        "per_pipeline_overlap": per_pipeline_overlap,
        "effective": effective,
        "summary": summary,
    }
