"""Spatial predicates & joins (SURVEY.md §2 F2, F3, J2).

Reference behaviors:
  * F2 bbox containment: region qualifies iff its bbox CONTAINS the query
    bbox — 4-way AND, containment NOT intersection
    (/root/reference/scripts/usgs_lidar.py:297-303).
  * F3 exact polygon crop: WKT pushed into the PDAL reader
    (/root/reference/pipeline.json:4, scripts/usgs_lidar.py:122).

Engine design (SURVEY.md §4 "custom work"): `within(polygon)` is planned
as `bbox-prefilter AND exact-test`, both plain column predicates:
  * the bbox test is pushed into the parquet scan (row-group min/max
    skipping on x/y does the octree's job);
  * the exact point-in-polygon test is the even-odd ray-casting rule
    rendered as ONE JVM-parsed SQL expression (one CASE term per
    non-horizontal edge), so the crop whole-stage-codegens in the scan's
    map stage — no Python worker, no shuffle.
At 100 TB the bbox filter typically eliminates >99% of points at scan
time; the exact test's cost is proportional to the polygon's area times
its vertex count, not the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usgs_lidar_spark.functions.sqlbuild import dlit, qident


def bbox_contains(
    xmin="xmin", xmax="xmax", ymin="ymin", ymax="ymax",
    *, qminx: float, qmaxx: float, qminy: float, qmaxy: float,
) -> Column:
    """F2: catalog-row bbox CONTAINS the query bbox (the reference's
    fetch_regions predicate — containment, not intersection), as one
    JVM-parsed expression with the Column form's tree
    ``((xmin <= qminx AND xmax >= qmaxx) AND ymin <= qminy) AND ...``."""
    return F.expr(
        f"{qident(xmin)} <= {dlit(qminx)} AND {qident(xmax)} >= {dlit(qmaxx)}"
        f" AND {qident(ymin)} <= {dlit(qminy)} AND {qident(ymax)} >= {dlit(qmaxy)}"
    )


def polygon_bbox(polygon: Sequence[tuple[float, float]]) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) of a polygon — the reference's
    `polygon.bounds` (scripts/usgs_lidar.py:71,295), driver-side scalar."""
    xs = [p[0] for p in polygon]
    ys = [p[1] for p in polygon]
    return min(xs), min(ys), max(xs), max(ys)


def point_in_polygon(
    polygon: Sequence[tuple[float, float]], x_col: str, y_col: str
) -> Column:
    """Even-odd ray-casting test for an arbitrary polygon, as one SQL
    expression parsed JVM-side (one py4j call to construct)."""
    return F.expr(_point_in_polygon_sql(polygon, qident(x_col), qident(y_col)))


def _point_in_polygon_sql(
    polygon: Sequence[tuple[float, float]], x: str, y: str
) -> str:
    """SQL text of `point_in_polygon` over the SQL operands ``x``, ``y``.

    Edge (x1,y1)->(x2,y2) counts a crossing when it straddles the ray,
    ``(y1 <= y) != (y2 <= y)``, and the point lies left of the crossing,
    ``x < x1 + (y - y1) * (x2 - x1) / (y2 - y1)``; the point is inside
    when the count is odd. ``x2 - x1`` and ``y2 - y1`` are computed here
    as Python doubles and every other operation keeps the textbook
    order, so each edge decision is bit-identical to the vectorized
    NumPy form of the rule. Horizontal edges never straddle the ray and
    are skipped (which also keeps the divisor non-zero)."""
    n = len(polygon)
    terms = []
    for i in range(n):
        x1, y1 = (float(v) for v in polygon[i])
        x2, y2 = (float(v) for v in polygon[(i + 1) % n])
        if y1 == y2:
            continue
        terms.append(
            f"CASE WHEN (({dlit(y1)} <= {y}) != ({dlit(y2)} <= {y})) "
            f"AND {x} < {dlit(x1)} + ({y} - {dlit(y1)}) * {dlit(x2 - x1)}"
            f" / {dlit(y2 - y1)} THEN 1 ELSE 0 END"
        )
    return f"({' + '.join(terms)}) % 2 = 1"


def filter_within_polygon(
    df: DataFrame,
    polygon: Sequence[tuple[float, float]],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """The planner helper: rewrite within(polygon) into bbox-prefilter
    (pushed to the scan) AND the exact `point_in_polygon` expression, as
    one filter string parsed JVM-side. The tree is the Column form's
    ``(x.between(..) AND y.between(..)) AND inside``, each ``between``
    written as the two comparisons `Column.between` builds."""
    minx, miny, maxx, maxy = polygon_bbox(polygon)
    x, y = qident(x_col), qident(y_col)
    return df.filter(
        f"(({x} >= {dlit(minx)} AND {x} <= {dlit(maxx)})"
        f" AND ({y} >= {dlit(miny)} AND {y} <= {dlit(maxy)}))"
        f" AND ({_point_in_polygon_sql(polygon, x, y)})"
    )


def convex_halfplane_sql(
    polygon: Sequence[tuple[float, float]], x_expr: str, y_expr: str
) -> str:
    """For a CONVEX CCW polygon, point-in-polygon == all edge cross
    products >= 0 — pure arithmetic, usable as the ANSI-SQL oracle for the
    even-odd `point_in_polygon` test (boundary-free test points make > vs
    >= immaterial)."""
    terms = []
    n = len(polygon)
    for i in range(n):
        x1, y1 = polygon[i]
        x2, y2 = polygon[(i + 1) % n]
        terms.append(
            f"(({x2!r} - {x1!r}) * (({y_expr}) - {y1!r}) - "
            f"({y2!r} - {y1!r}) * (({x_expr}) - {x1!r}) >= 0)"
        )
    return " AND ".join(terms)


def spatial_join_points_diamonds(
    points: DataFrame,
    diamonds: DataFrame,
    cell: float,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Spatial JOIN of a point table against a POLYGON TABLE (here convex
    L1 diamonds: |x-cx|/a + |y-cy|/b <= 1, one row per diamond with
    columns (poly_id, cx, cy, a, b)) — the many-polygons generalization
    of filter_within_polygon's single crop.

    Plan (the standard grid-bucketed spatial join, no geo library):
      1. each diamond EXPLODES to the grid cells its bbox covers
         (sequence x sequence — cells are (floor(x/cell), floor(y/cell))
         pairs); each point maps to exactly ONE cell — map-side;
      2. equi-join on the cell key — candidates are point x diamond
         pairs sharing a cell, never a cross product;
      3. exact containment check as a pure column predicate (convex
         shape => one inequality), then DISTINCT on (point, poly) since
         a diamond spanning k cells can meet the same point only once —
         no dedup needed at all, because the point lives in exactly one
         cell. (The distinct IS needed the moment points expand to
         shapes; for point probes each candidate pair is unique.)

    Scale: cost is sum over cells of |points_in_cell| x |diamonds_on_cell|
    — bounded by choosing `cell` near the typical diamond size. A
    pathological mega-diamond covering the whole plane degrades toward
    broadcast-join behavior (it lands in every cell), which is also the
    right physical answer for a polygon that matches everything; cap or
    split such shapes upstream if they exist.
    """
    cx, cy, a, b = F.col("cx"), F.col("cy"), F.col("a"), F.col("b")
    gx = lambda c: F.floor(c / cell).cast("long")  # noqa: E731
    cells_x = F.sequence(gx(cx - a), gx(cx + a))
    cells_y = F.sequence(gx(cy - b), gx(cy + b))
    d_cells = (
        diamonds.withColumn("__gx", F.explode(cells_x))
        .withColumn("__gy", F.explode(cells_y))
    )
    p_cells = points.withColumn("__gx", gx(F.col(x_col))).withColumn(
        "__gy", gx(F.col(y_col))
    )
    cand = p_cells.join(d_cells, ["__gx", "__gy"])
    inside = (
        F.abs(F.col(x_col) - cx) / a + F.abs(F.col(y_col) - cy) / b
    ) <= 1.0
    return cand.filter(inside).drop("__gx", "__gy")


def nearest_neighbor_join(
    points: DataFrame,
    sites: DataFrame,
    radius: float,
    x_col: str = "x",
    y_col: str = "y",
    site_id_col: str = "site_id",
    site_x_col: str = "sx",
    site_y_col: str = "sy",
) -> DataFrame:
    """Nearest-site join: attach each point's closest site within
    ``radius`` (squared-L2; ties break on site id) — the nearest-facility
    / sensor-fusion primitive, and the 2-D sibling of asof.nearest_join.

    Grid scheme: cell width = radius, sites land in their own cell,
    each point probes its 3x3 cell neighborhood (a 9-row explode on the
    POINT side — any site within `radius` of the point must lie in one
    of those cells, since radius <= cell diagonal reach). Candidates are
    the cell equi-join; the exact distance filter + a per-point min
    (struct-min aggregate, partial map-side — no window sort) pick the
    winner. Never a cross join; cost is points x sites-per-neighborhood.

    Output: point columns + (site id, nearest_d2). Points with no site
    inside the radius drop (inner semantics) — wrap with a left join on
    the input for left semantics.
    """
    cell = float(radius)
    g = lambda c: F.floor(c / cell).cast("long")  # noqa: E731
    s_cells = sites.select(
        F.col(site_id_col).alias("__sid"),
        F.col(site_x_col).alias("__sx"),
        F.col(site_y_col).alias("__sy"),
        g(F.col(site_x_col)).alias("__gx"),
        g(F.col(site_y_col)).alias("__gy"),
    )
    offsets = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    p_cells = (
        points.withColumn("__px", g(F.col(x_col)))
        .withColumn("__py", g(F.col(y_col)))
        .withColumn("__dx", F.explode(offsets))
        .withColumn("__dy", F.explode(offsets))
        .withColumn("__gx", F.col("__px") + F.col("__dx"))
        .withColumn("__gy", F.col("__py") + F.col("__dy"))
    )
    cand = p_cells.join(s_cells, ["__gx", "__gy"])
    d2 = (F.col(x_col) - F.col("__sx")) * (F.col(x_col) - F.col("__sx")) + (
        F.col(y_col) - F.col("__sy")
    ) * (F.col(y_col) - F.col("__sy"))
    hit = cand.withColumn("__d2", d2).filter(F.col("__d2") <= radius * radius)
    point_cols = points.columns
    best = (
        hit.groupBy(*point_cols)
        .agg(
            F.min(F.struct(F.col("__d2"), F.col("__sid"))).alias("__best")
        )
    )
    return best.select(
        *point_cols,
        F.col("__best.__sid").alias("nearest_site_id"),
        F.col("__best.__d2").alias("nearest_d2"),
    )
