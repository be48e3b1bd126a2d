"""The benchmark's workloads.

Each workload generates its inputs from the run's seed and computes every
operation's expected rows with DuckDB (untimed), then serves passes of
operations to the closed loop, each pass in a seed-shuffled order. An
operation is a function ``spark -> DataFrame`` (the plan construction, which
may run eager Spark jobs); the runner forces and checks the result.

Package functions are reached through their modules at call time
(``lifecycle.fetch_data``), so the traced run's wrappers are the ones
called.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import duckdb
import numpy as np

from perfbench import check, datagen


@dataclass
class Op:
    kind: str
    build: Callable
    oracle: Callable[[duckdb.DuckDBPyConnection], object]
    rows: object = None  # the DuckDB oracle's result (pyarrow Table)
    expected: dict | None = None
    meta: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, root: str, seed: int, tiny: bool) -> None:
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.tiny = tiny
        #: Measured passes cycle through these groups of operations.
        self.groups: list[list[Op]] = []
        self.warmup: list[Op] = []
        self._fresh = itertools.count()

    def fresh_path(self, tag: str) -> str:
        return os.path.join(self.root, "fresh", f"{tag}_{next(self._fresh)}")

    def write_inputs(self, spark) -> None:
        raise NotImplementedError

    def run_oracles(self) -> None:
        """Expected rows of every measured operation, from DuckDB."""
        con = duckdb.connect()
        try:
            for op in (op for g in self.groups for op in g):
                op.rows = op.oracle(con)
        finally:
            con.close()

    def derive_expected(self, spark) -> None:
        """Expected fingerprint of every measured operation: the oracle
        rows put through the forcing aggregate."""
        for op in (op for g in self.groups for op in g):
            op.expected = check.expected_fingerprint(spark, op.rows)

    def passes(self, rng: np.random.Generator) -> Iterator[list[Op]]:
        """Endless passes, cycling through the groups, each pass in a
        seed-shuffled order."""
        for group in itertools.cycle(self.groups):
            yield [group[int(i)] for i in rng.permutation(len(group))]


# --------------------------------------------------------------------------
# lidar_polygon
# --------------------------------------------------------------------------


class LidarPolygon(Workload):
    """The paper's lifecycle: polygon -> catalog containment -> pruned scan
    with noise filter and exact crop -> voxel subsample -> reprojection;
    beside it, the ingest of new survey tiles (a write of the partitioned
    point layout, read back by bbox)."""

    name = "lidar_polygon"
    RESOLUTIONS = (2.5, 3.0, 3.5)

    def write_inputs(self, spark) -> None:
        from usgs_lidar_spark.sources import writers

        n_states = 2
        if self.tiny:
            regions = datagen.lidar_regions(n_states, 20_000, 6_000)
        else:
            regions = datagen.lidar_regions(n_states, 100_000, 40_000)
        staged = datagen.write_table(datagen.point_table(self.rng, regions), self.root, "staged")
        self.points_path = os.path.join(self.root, "points")
        writers.write_points_partitioned(spark.read.parquet(staged), self.points_path)
        os.remove(staged)
        datagen.write_table(datagen.catalog_table(regions), self.root, "catalog")
        self.catalog_path = os.path.join(self.root, "catalog.parquet")
        # Every operation gets a polygon of its own, as every user query
        # does (the plan's literals, hence its generated code, are new each
        # time): two measured groups and a warm-up pass, each one polygon
        # per kind (the kinds scan one, two or three regions, so their plans
        # differ) plus one tile ingest.
        polys = datagen.lidar_polygons(self.rng, n_states, 3)  # kind-major
        passes = [[self._op(*p) for p in polys[k::3]] + [self._ingest(k)] for k in range(3)]
        self.groups, self.warmup = passes[:2], passes[2]

    def _op(self, kind, poly) -> Op:
        res = float(self.rng.choice(self.RESOLUTIONS))
        return Op(kind, self._builder(poly, res), self._oracle(poly, res),
                  meta={"polygon": poly, "resolution": res})

    def _ingest(self, k: int) -> Op:
        """Write a seed-generated tile (one survey with two projects) to a
        fresh path with ``write_points_partitioned`` and read back a
        seed-drawn bbox of it."""
        tile_points = 6_000 if self.tiny else 30_000
        regions = datagen.lidar_regions(1, tile_points, tile_points // 4)
        batch = datagen.write_table(
            datagen.point_table(self.rng, regions), self.root, f"tile{k}"
        )
        r = regions[0]
        w, h = r.xmax - r.xmin, r.ymax - r.ymin
        fx, fy = self.rng.uniform(0.3, 0.6, 2)
        x0 = r.xmin + self.rng.uniform(0, 1 - fx) * w + 0.003
        y0 = r.ymin + self.rng.uniform(0, 1 - fy) * h + 0.003
        bbox = (x0, y0, x0 + fx * w, y0 + fy * h)

        def build(spark):
            from pyspark.sql import functions as F

            from usgs_lidar_spark.sources import writers

            path = self.fresh_path("tile")
            writers.write_points_partitioned(spark.read.parquet(batch), path)
            return writers.read_points(spark, path).filter(
                F.col("x").between(bbox[0], bbox[2]) & F.col("y").between(bbox[1], bbox[3])
            )

        def oracle(con):
            return con.execute(
                f"SELECT * FROM read_parquet('{batch}') WHERE x BETWEEN {bbox[0]!r} "
                f"AND {bbox[2]!r} AND y BETWEEN {bbox[1]!r} AND {bbox[3]!r}"
            ).arrow()

        return Op("ingest", build, oracle, meta={"bbox": bbox})

    def _builder(self, poly, res):
        def build(spark):
            from usgs_lidar_spark import catalog
            from usgs_lidar_spark.functions import projection
            from usgs_lidar_spark.plans import lifecycle
            from usgs_lidar_spark.sources import writers

            cat = catalog.load_table(spark, self.root, "catalog")
            pts = writers.read_points(spark, self.points_path)
            cropped = lifecycle.fetch_data(pts, cat, poly)
            vox = lifecycle.subsample(cropped, res)
            lon, lat = projection.reproject_cols("cx", "cy", 3857, 4326)
            return vox.select("*", lon.alias("lon"), lat.alias("lat"))

        return build

    def _oracle(self, poly, res):
        from usgs_lidar_spark.operators.spatial import convex_halfplane_sql, polygon_bbox

        minx, miny, maxx, maxy = polygon_bbox(poly)
        inside = convex_halfplane_sql(poly, "p.x", "p.y")
        r = repr(float(res))

        def oracle(con):
            return con.execute(
                f"""
                WITH q AS (
                    SELECT DISTINCT region FROM read_parquet('{self.catalog_path}')
                    WHERE xmin <= {minx!r} AND xmax >= {maxx!r}
                      AND ymin <= {miny!r} AND ymax >= {maxy!r}
                ), pts AS (
                    SELECT p.x, p.y, p.z AS elevation
                    FROM read_parquet('{self.points_path}/*/*/*.parquet',
                                      hive_partitioning = true,
                                      hive_types = {{'region': VARCHAR, 'year': VARCHAR}}) p
                    JOIN q ON p.region = q.region
                    WHERE p.classification <> 7 AND {inside}
                ), mins AS (
                    SELECT min(x) AS mx, min(y) AS my, min(elevation) AS me FROM pts
                ), vox AS (
                    SELECT CAST(floor((x - mx) / {r}) AS BIGINT) AS ix,
                           CAST(floor((y - my) / {r}) AS BIGINT) AS iy,
                           CAST(floor((elevation - me) / {r}) AS BIGINT) AS ielevation,
                           round(avg(x), 4) AS cx, round(avg(y), 4) AS cy,
                           round(avg(elevation), 4) AS celevation,
                           count(*) AS n_points
                    FROM pts, mins GROUP BY ALL
                )
                SELECT *, degrees(cx / 6378137.0) AS lon,
                       degrees(2 * atan(exp(cy / 6378137.0)) - 0.5 * pi()) AS lat
                FROM vox
                """
            ).arrow()

        return oracle


# --------------------------------------------------------------------------
# llm_curation
# --------------------------------------------------------------------------

#: Registered LLM-tier queries the workload runs, one per operation.
LLM_QUERIES = ("graph_triangles_parts", "pipe_contamination", "mm_dhash_fingerprint")


def registered_oracle(directory: str, tables, query: str):
    """DuckDB oracle running the registered ORACLE SQL of ``query`` over the
    ``tables`` written under ``directory``."""

    def oracle(con):
        from usgs_lidar_spark.plans.queries import ORACLE

        for t in tables:
            path = os.path.join(directory, f"{t}.parquet")
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(ORACLE[query]).arrow()

    return oracle


class LlmCuration(Workload):
    """Registered LLM-data queries over seed-generated documents,
    embeddings and lineitem tables, each forced and oracle-checked."""

    name = "llm_curation"
    TABLES = ("documents", "embeddings", "lineitem")

    def write_inputs(self, spark) -> None:
        n_docs, n_vecs, n_lines = (200, 200, 3_000) if self.tiny else (1_000, 500, 20_000)
        datagen.write_table(datagen.documents_table(self.rng, n_docs), self.root, "documents")
        datagen.write_table(datagen.embeddings_table(self.rng, n_vecs), self.root, "embeddings")
        datagen.write_table(datagen.lineitem_table(self.rng, n_lines), self.root, "lineitem")
        names = LLM_QUERIES[:2] if self.tiny else LLM_QUERIES
        ops = [Op(q, self._builder(q), registered_oracle(self.root, self.TABLES, q))
               for q in names]
        # Repeated queries reuse generated code and operator caches, so
        # the warm-up runs each one once.
        self.groups = [ops]
        self.warmup = ops

    def _builder(self, name):
        def build(spark):
            from usgs_lidar_spark.plans.queries import QUERIES

            return QUERIES[name](spark, self.root)

        return build



WORKLOADS = {w.name: w for w in (LidarPolygon, LlmCuration)}
