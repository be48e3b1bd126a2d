"""Voxel-grid downsampling — the reference's flagship aggregate (A2).

Reference: ``subsample`` at /root/reference/scripts/usgs_lidar.py:400-439 —
computes integer voxel keys ``(p - min(p)) // voxel_size`` per axis
(line 416), groups with ``np.unique(..., return_inverse, return_counts)``
(a sort-based GROUP BY), then takes the per-voxel mean ("barycenter") in a
serial Python loop (lines 423-427). Demo: 401,577 points -> 60,998 voxels at
res=3 (notebooks/demo.ipynb cells 19/21), <=34 s single-process.

Spark design: two hash aggregates, zero driver round-trips.
  1. global per-axis MIN — a 1-row DataFrame;
  2. broadcast that row into every partition (BroadcastNestedLoopJoin of a
     single row — constant cost at any scale), compute voxel keys with pure
     column arithmetic, and hash-aggregate AVG/COUNT per key. Partial
     (map-side) aggregation means the shuffle carries one row per
     (partition, voxel), not per point — at 100 TB the shuffle volume is
     bounded by voxel count, not point count. No sort anywhere (the
     reference's np.unique/argsort sort is an artifact of numpy's API).

The key and aggregate columns are rendered as single-parse SQL
(functions/sqlbuild.py) with the Column form's analyzed plan, so building
it costs a few py4j calls per axis, not one per expression node.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usgs_lidar_spark.functions.sqlbuild import dlit, qident


def voxel_keys(
    df: DataFrame,
    axes: Sequence[str],
    resolutions: Sequence[float],
) -> DataFrame:
    """Attach integer voxel-key columns ``i<axis>`` anchored at global mins.

    Equivalent of /root/reference/scripts/usgs_lidar.py:416 — but the global
    min is computed distributed and broadcast, never collected to the driver.
    """
    mins = df.agg(*[F.expr(f"min({qident(a)}) AS {qident('__min_' + a)}") for a in axes])
    keyed = df.crossJoin(F.broadcast(mins))
    for a, r in zip(axes, resolutions):
        keyed = keyed.withColumn(
            f"i{a}",
            F.expr(f"CAST(FLOOR(({qident(a)} - {qident('__min_' + a)}) / {dlit(r)}) AS BIGINT)"),
        )
    return keyed.drop(*[f"__min_{a}" for a in axes])


def voxel_downsample(
    df: DataFrame,
    axes: Sequence[str],
    resolutions: Sequence[float],
    round_digits: int | None = 4,
    exact_decimals: Sequence[int] | None = None,
    value_cols: Sequence[str] = (),
) -> DataFrame:
    """Barycenter decimation: one output row per occupied voxel.

    Output columns: ``i<axis>`` (voxel key, long), ``c<axis>`` (barycenter,
    double), ``c<value>`` (mean of each ``value_cols`` entry — columns
    averaged within the voxel without participating in the grid key, e.g.
    elevation over an (x, y) grid), ``n_points`` (long).

    ``exact_decimals``: when the source values are fixed-point decimals
    (d digits), the barycenter is computed as an integer sum of scaled
    values divided once at the end — the aggregate is then independent of
    partitioning/summation order (floating-point addition is not
    associative; a plain AVG of doubles can differ in the last ulp between
    runs/engines, which matters when results are hash-compared). This is
    also the scale-safe form: a 100 TB shuffle re-partition cannot change
    the answer.
    """
    keyed = voxel_keys(df, axes, resolutions)
    aggs = []
    for i, a in enumerate(axes):
        if exact_decimals is not None:
            # Exact path: integer sum / single division — bit-deterministic,
            # so it must NOT be rounded afterwards (ROUND(0.08625, 4) is
            # itself engine-dependent: Spark rounds the decimal rendering
            # HALF_UP, C engines round the binary double — observed live).
            scale = 10 ** exact_decimals[i]
            c = (
                f"sum(CAST(round({qident(a)} * {scale}) AS BIGINT))"
                f" / ({dlit(scale)} * count(1))"
            )
        else:
            c = _rounded(f"avg({qident(a)})", round_digits)
        aggs.append(f"{c} AS {qident('c' + a)}")
    for v in value_cols:
        aggs.append(f"{_rounded(f'avg({qident(v)})', round_digits)} AS {qident('c' + v)}")
    aggs.append("count(1) AS n_points")
    return keyed.groupBy(*[f"i{a}" for a in axes]).agg(*[F.expr(e) for e in aggs])


def _rounded(sql: str, digits: int | None) -> str:
    return sql if digits is None else f"round({sql}, {int(digits)})"


def voxel_pyramid(
    df: DataFrame,
    axes: Sequence[str],
    resolutions: Sequence[float],
    levels: int,
    exact_decimals: Sequence[int],
) -> DataFrame:
    """LOD pyramid over the voxel grid — the engine's analog of the
    reference's EPT octree levels (/root/reference/pipeline.json:3-9's
    source structure): level 0 is the base grid, each coarser level
    merges 2^len(axes) child voxels by halving the integer keys.

    Built BOTTOM-UP: level l+1 aggregates level l's rows (grid-sized,
    tiny), so the full point set is scanned exactly once no matter how
    many levels — at 100 TB the pyramid costs one base aggregate plus
    log-many grid-sized shuffles. Because per-voxel state is scaled-
    integer coordinate sums + counts (exact_decimals required), merging
    children is EXACT: every level is bit-identical to aggregating the
    raw points directly at that resolution (the oracle checks precisely
    that), which a float mean-of-means would not be.

    Output: (level, i<axis>..., c<axis>... barycenters, n_points).
    """
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")
    keyed = voxel_keys(df, axes, resolutions)
    key_cols = [f"i{a}" for a in axes]
    scales = [10**d for d in exact_decimals]
    cur = keyed.groupBy(*key_cols).agg(
        *[
            F.sum(F.round(F.col(a) * s).cast("long")).alias(f"__s_{a}")
            for a, s in zip(axes, scales)
        ],
        F.count(F.lit(1)).alias("n_points"),
    )
    # Materialize each level before it branches into BOTH the output union
    # and the next level's aggregate: without this, every union arm
    # re-executes its full lineage and the raw points are scanned once per
    # level — the exact cost the bottom-up construction exists to avoid.
    cur = cur.localCheckpoint()
    frames = [cur.withColumn("level", F.lit(0).cast("long"))]
    for lvl in range(1, levels):
        cur = cur.groupBy(
            *[
                F.floor(F.col(f"i{a}") / 2).cast("long").alias(f"i{a}")
                for a in axes
            ]
        ).agg(
            *[F.sum(f"__s_{a}").alias(f"__s_{a}") for a in axes],
            F.sum("n_points").alias("n_points"),
        ).localCheckpoint()
        frames.append(cur.withColumn("level", F.lit(lvl).cast("long")))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.select(
        "level",
        *key_cols,
        *[
            (F.col(f"__s_{a}") / (F.lit(float(s)) * F.col("n_points"))).alias(
                f"c{a}"
            )
            for a, s in zip(axes, scales)
        ],
        "n_points",
    )
