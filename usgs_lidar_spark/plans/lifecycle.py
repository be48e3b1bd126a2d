"""The reference's public API re-expressed: fetch_regions / fetch_data /
subsample as one declarative pipeline (SURVEY.md §3.1).

Reference lifecycle (/root/reference/scripts/usgs_lidar.py):
    fetch_regions(polygon)  (:291-305) — catalog bbox-containment filter,
        year sort (NaN last), filename projection;
    fetch_data(polygon, region)  (:312-340) — per qualifying region: year
        lookup, EPT fetch with scan-time crop, noise filter, reprojection,
        keyed dict[year -> GeoDataFrame];
    subsample(gdf, res)  (:400-439) — voxel barycenter decimation.

Engine mapping: catalog filter = broadcast predicate; the per-region scan
= ONE partitioned-table scan with partition pruning driven by the
qualifying region list (the dynamic form of the reference's catalog-first
pruning); noise filter + polygon crop pushed into the scan; the year-keyed
dict = a `year` column (group or partitionBy to materialize the keying).
As the reference's fetch_data hands its crop to subsample in memory,
`fetch_data` returns its crop pinned (an eager local checkpoint), so the
two voxel passes of `subsample` read the pin instead of re-scanning.

**Fixed reference bug** (SURVEY.md §3.1): the reference fetches the
DEFAULT region's data for every requested region (fetch_region_data is
called without the region argument at :334, and execute_pipeline defaults
to IA_FullState at :129), labeling it with the requested region's year.
Here the region key threads through the scan predicate, so each region's
rows are its own.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usgs_lidar_spark.operators.spatial import (
    bbox_contains,
    filter_within_polygon,
    polygon_bbox,
)
from usgs_lidar_spark.operators.voxel import voxel_downsample

#: LAS class 7 (low noise), dropped by the reference's noise filter
#: (pipeline.json:10-14).
NOISE_CLASS = 7


def _qualifying(catalog: DataFrame, polygon: Sequence[tuple[float, float]]) -> DataFrame:
    """Catalog rows whose bbox CONTAINS the polygon's bbox."""
    minx, miny, maxx, maxy = polygon_bbox(polygon)
    return catalog.filter(bbox_contains(qminx=minx, qmaxx=maxx, qminy=miny, qmaxy=maxy))


def fetch_regions(catalog: DataFrame, polygon: Sequence[tuple[float, float]]) -> DataFrame:
    """Qualifying regions for a polygon: catalog bbox CONTAINS the
    polygon's bbox; sorted by year ascending, nulls last (the reference's
    demo-pinned ordering, scripts/usgs_lidar.py:297-305)."""
    return (
        _qualifying(catalog, polygon)
        .orderBy(F.col("year").asc_nulls_last(), F.col("filename"))
        .select("filename", "region", "year")
    )


def fetch_data(
    points: DataFrame,
    catalog: DataFrame,
    polygon: Sequence[tuple[float, float]],
) -> DataFrame:
    """All years of point data for a polygon, cropped once and pinned.

    Plan: partition-pruned scan of the qualifying regions, noise filter +
    bbox pushed to the scan, exact polygon crop as a column expression in
    the same map stage, year attached from the catalog (broadcast). The
    qualifying ``(region, catalog_year)`` pairs are made distinct on one
    partition — the reference's crawl bounds the catalog at 1,597 regions
    — so the broadcast side has no exchange stage. Returns one DataFrame
    with a `year_label` column — the distributed form of the reference's
    dict[year -> GeoDataFrame].

    The crop is returned pinned by an eager ``localCheckpoint()``, as the
    reference's fetch_data returns its crop in memory: this call runs
    exactly two Spark jobs, the catalog broadcast and the crop, and every
    consumer (both passes of `subsample`) reads the pin without touching
    the catalog or the point files again. Local-checkpoint blocks live in
    the executors' block managers and die with their executor — the same
    contract as the graph operators' default ``checkpoint_mode="local"``;
    rebuild the crop if an executor is lost."""
    regions = (
        _qualifying(catalog, polygon)
        .selectExpr("region", "year AS catalog_year")
        .coalesce(1)
        .distinct()
    )
    # The catalog's year labels the data (as in the reference's lookup at
    # scripts/usgs_lidar.py:328); the points table's own year column is
    # dropped to keep the join unambiguous.
    scoped = points.drop("year").join(F.broadcast(regions), "region")
    clean = scoped.filter(f"classification != {NOISE_CLASS}")
    cropped = filter_within_polygon(clean, polygon, x_col="x", y_col="y")
    return cropped.selectExpr(
        "region",
        "coalesce(CAST(catalog_year AS STRING), 'not_specified') AS year_label",
        "x",
        "y",
        "z AS elevation",
    ).localCheckpoint()


def subsample(
    points: DataFrame, resolution: float = 3.0, axes: Sequence[str] = ("x", "y", "elevation")
) -> DataFrame:
    """Voxel barycenter decimation at `resolution` (the reference's
    subsample, demo: 401,577 -> 60,998 at res=3). Builds the plan only:
    on `fetch_data`'s pin it starts no job, and its min pass and keyed
    pass both read the pin."""
    return voxel_downsample(points, list(axes), [resolution] * len(axes))
