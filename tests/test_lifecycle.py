"""End-to-end reference lifecycle: crawl-built catalog + partitioned point
table -> fetch_regions -> fetch_data -> subsample, with the reference's
observable semantics (containment, nulls-last year sort, null-year label,
noise filter) and the region-threading bug FIXED (each region returns its
own points — the reference returned the default region's data for every
request, SURVEY.md §3.1). The lifecycle's Spark-job budget is pinned here
too: reads start none, `fetch_data` starts the two its docstring names."""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from usgs_lidar_spark.catalog import load_table
from usgs_lidar_spark.functions.projection import reproject_cols
from usgs_lidar_spark.operators.spatial import (
    convex_halfplane_sql,
    filter_within_polygon,
    polygon_bbox,
)
from usgs_lidar_spark.operators.voxel import voxel_downsample
from usgs_lidar_spark.plans.lifecycle import fetch_data, fetch_regions, subsample
from usgs_lidar_spark.schemas import TABLE_NAMES
from usgs_lidar_spark.sources.writers import read_points, write_points_partitioned

#: Query polygon inside region A's bbox only.
POLY = [(10.0, 10.0), (40.0, 12.0), (45.0, 40.0), (12.0, 38.0)]


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    catalog = spark.createDataFrame(
        [
            # covers the polygon, dated
            ("REG_A_2012", "REG_A", 2012, 0.0, 100.0, 0.0, 100.0, 1000),
            # covers, undated -> must sort LAST among qualifiers
            ("REG_N_FullState", "REG_N", None, -500.0, 500.0, -500.0, 500.0, 5000),
            # overlaps but does NOT contain -> must not qualify
            ("REG_B_2015", "REG_B", 2015, 30.0, 60.0, 30.0, 60.0, 800),
        ],
        "filename string, region string, year int, xmin double, xmax double, "
        "ymin double, ymax double, points long",
    )
    pts = spark.range(3000).select(
        F.when(F.col("id") % 3 == 0, "REG_A")
        .when(F.col("id") % 3 == 1, "REG_N")
        .otherwise("REG_B")
        .alias("region"),
        F.when(F.col("id") % 3 == 1, F.lit(None).cast("int"))
        .otherwise(F.lit(2012))
        .alias("year"),
        (F.col("id") % 97 * 1.03).alias("x"),
        (F.col("id") % 89 * 1.07).alias("y"),
        (F.col("id") % 50 + 300.0).alias("z"),
        F.when(F.col("id") % 20 == 0, 7).otherwise(1).alias("classification"),
        (F.col("id") % 256).cast("int").alias("intensity"),
    )
    root = tmp_path_factory.mktemp("world")
    write_points_partitioned(pts, str(root / "points"))
    catalog.coalesce(1).write.parquet(str(root / "catalog.parquet"))
    return catalog, read_points(spark, str(root / "points")), str(root)


def test_fetch_regions_containment_and_sort(spark, world):
    catalog, _, _ = world
    regions = fetch_regions(catalog, POLY).collect()
    # containment not intersection: REG_B overlaps but doesn't contain.
    assert [r["region"] for r in regions] == ["REG_A", "REG_N"]
    # dated first, null year last (reference demo cell 10 semantics).
    assert regions[-1]["year"] is None


def test_fetch_data_threads_regions_and_filters(spark, world):
    catalog, points, _ = world
    out = fetch_data(points, catalog, POLY)
    rows = out.collect()
    assert rows, "polygon should match points"
    regions = {r["region"] for r in rows}
    # The fixed bug: BOTH qualifying regions' own data, nothing from REG_B.
    assert regions == {"REG_A", "REG_N"}
    labels = {r["year_label"] for r in rows}
    assert labels == {"2012", "not_specified"}
    # Exactly the fixture rows of the qualifying regions, minus noise
    # class 7, inside POLY by the independent half-plane rule.
    minx, miny, maxx, maxy = polygon_bbox(POLY)
    qualifying = {
        c["region"] for c in catalog.collect()
        if c["xmin"] <= minx and c["xmax"] >= maxx
        and c["ymin"] <= miny and c["ymax"] >= maxy
    }
    fixture = points.select(
        "region", "x", "y", "classification",
        F.expr(convex_halfplane_sql(POLY, "x", "y")).alias("inside"),
    ).collect()
    assert any(r["classification"] == 7 and r["inside"] for r in fixture)
    want = sorted(
        (r["region"], r["x"], r["y"]) for r in fixture
        if r["region"] in qualifying and r["classification"] != 7 and r["inside"]
    )
    assert sorted((r["region"], r["x"], r["y"]) for r in rows) == want


def test_subsample_decimates(spark, world):
    catalog, points, _ = world
    data = fetch_data(points, catalog, POLY)
    vox = subsample(data, resolution=10.0)
    n_in, n_out = data.count(), vox.count()
    assert 0 < n_out < n_in
    assert vox.columns == ["ix", "iy", "ielevation", "cx", "cy", "celevation", "n_points"]


_groups = itertools.count()


def _jobs(spark, build):
    """(result, number of Spark jobs) of ``build()``, counted by the
    statusTracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"lifecycle-jobs-{next(_groups)}"
    sc.setJobGroup(group, "job budget")
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _crop_unpinned(points, catalog, polygon):
    """The Column-API crop `fetch_data` pinned before it was rendered
    as single-parse SQL: the same plan, not checkpointed."""
    minx, miny, maxx, maxy = polygon_bbox(polygon)
    regions = (
        catalog.filter(
            (F.col("xmin") <= F.lit(minx)) & (F.col("xmax") >= F.lit(maxx))
            & (F.col("ymin") <= F.lit(miny)) & (F.col("ymax") >= F.lit(maxy))
        )
        .select("region", F.col("year").alias("catalog_year"))
        .distinct()
    )
    scoped = points.drop("year").join(F.broadcast(regions), "region")
    clean = scoped.filter(F.col("classification") != 7)
    return filter_within_polygon(clean, polygon).select(
        "region",
        F.coalesce(F.col("catalog_year").cast("string"), F.lit("not_specified")).alias(
            "year_label"
        ),
        "x",
        "y",
        F.col("z").alias("elevation"),
    )


def test_reads_start_no_jobs(spark, world):
    """Declared-schema reads: building a table's scan runs no schema
    inference, for the catalog, the point layout and every driver table
    except ``events`` (whose ``ts`` type varies by data generation)."""
    _, _, root = world
    for name in [t for t in TABLE_NAMES if t != "events"]:
        assert _jobs(spark, lambda: load_table(spark, SF_SMALL, name))[1] == 0, name
    assert _jobs(spark, lambda: load_table(spark, root, "catalog"))[1] == 0
    assert _jobs(spark, lambda: read_points(spark, f"{root}/points"))[1] == 0


def test_lifecycle_job_budget_and_pinned_crop(spark, world):
    """`fetch_data` runs exactly its two jobs (the catalog broadcast and
    the crop it pins); `subsample` and the reprojection build plans only;
    the voxel result over the pin equals `voxel_downsample` over the
    unpinned Column-API crop."""
    _, _, root = world
    catalog = load_table(spark, root, "catalog")
    points = read_points(spark, f"{root}/points")
    crop, n_fetch = _jobs(spark, lambda: fetch_data(points, catalog, POLY))
    assert n_fetch == 2

    def reprojected():
        vox = subsample(crop, resolution=10.0)
        lon, lat = reproject_cols("cx", "cy", 3857, 4326)
        return vox.select("*", lon.alias("lon"), lat.alias("lat"))

    out, n_build = _jobs(spark, reprojected)
    assert n_build == 0
    want = voxel_downsample(
        _crop_unpinned(points, catalog, POLY), ["x", "y", "elevation"], [10.0] * 3
    )
    got = sorted(out.drop("lon", "lat").collect())
    assert got and got == sorted(want.collect())
