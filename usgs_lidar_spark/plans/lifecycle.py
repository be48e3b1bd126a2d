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


def fetch_regions(catalog: DataFrame, polygon: Sequence[tuple[float, float]]) -> DataFrame:
    """Qualifying regions for a polygon: catalog bbox CONTAINS the
    polygon's bbox; sorted by year ascending, nulls last (the reference's
    demo-pinned ordering, scripts/usgs_lidar.py:297-305)."""
    minx, miny, maxx, maxy = polygon_bbox(polygon)
    return (
        catalog.filter(
            bbox_contains(qminx=minx, qmaxx=maxx, qminy=miny, qmaxy=maxy)
        )
        .orderBy(F.col("year").asc_nulls_last(), F.col("filename"))
        .select("filename", "region", "year")
    )


def fetch_data(
    points: DataFrame,
    catalog: DataFrame,
    polygon: Sequence[tuple[float, float]],
) -> DataFrame:
    """All years of point data for a polygon: partition-pruned scan of the
    qualifying regions, noise filter + bbox pushed to the scan, exact
    polygon crop as a column expression in the same map stage, year
    attached from the catalog (broadcast). Returns one DataFrame with a
    `year` column — the distributed form of the reference's
    dict[year -> GeoDataFrame]."""
    regions = (
        fetch_regions(catalog, polygon)
        .select("region", F.col("year").alias("catalog_year"))
        .distinct()
    )
    # The catalog's year labels the data (as in the reference's lookup at
    # scripts/usgs_lidar.py:328); the points table's own year column is
    # dropped to keep the join unambiguous.
    scoped = points.drop("year").join(F.broadcast(regions), "region")
    clean = scoped.filter(F.col("classification") != NOISE_CLASS)
    cropped = filter_within_polygon(clean, polygon, x_col="x", y_col="y")
    return cropped.select(
        "region",
        F.coalesce(F.col("catalog_year").cast("string"), F.lit("not_specified")).alias(
            "year_label"
        ),
        "x",
        "y",
        F.col("z").alias("elevation"),
    )


def subsample(
    points: DataFrame, resolution: float = 3.0, axes: Sequence[str] = ("x", "y", "elevation")
) -> DataFrame:
    """Voxel barycenter decimation at `resolution` (the reference's
    subsample, demo: 401,577 -> 60,998 at res=3)."""
    return voxel_downsample(points, list(axes), [resolution] * len(axes))
