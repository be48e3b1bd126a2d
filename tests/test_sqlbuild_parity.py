"""Optimization round 16: single-parse SQL builders must be PLAN-EQUAL
to the Column-API expression trees they replaced.

Each converted constructor (`_mh_sig_exprs`/`_mh_band_struct_sql` in
dedup.py, `_centroid_sims`/`_exact_argmax_structs` in similarity.py) is
pinned against a FROZEN copy of the original composed form via
`LogicalPlan.sameResult` on the analyzed plans — the strongest possible
parity: semantically-equal analyzed plans guarantee bit-identical
results under any execution AND preserve CacheManager lookups (a warm
session's cached shingle/band frames keep serving reconstructed plans).
Row-level equality is asserted too, on boundary-heavy fixtures (zero
vectors, zero-norm centroids, negative ids, sub-ULP doubles)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from usgs_lidar_spark.operators.dedup import (
    _mh_band_struct_sql,
    _mh_sig_exprs,
)
from usgs_lidar_spark.operators.similarity import (
    _centroid_sims,
    _exact_argmax_structs,
    _py_norm,
    _quantize_centroids_exact,
)


def _same_result(df_a, df_b) -> bool:
    pa = df_a._jdf.queryExecution().analyzed()
    pb = df_b._jdf.queryExecution().analyzed()
    return bool(pa.sameResult(pb))


# ---- frozen Column-API originals (pre-round-16 construction) ----------


def _sig_agg_composed(sh, num_perm):
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def _band_long_composed(sig, num_perm, bands):
    rows_per_band = num_perm // bands
    band_cols = [
        F.xxhash64(
            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    pairs_per_band = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("h"))
            for b in range(bands)
        ]
    )
    return banded.select("doc_id", F.explode(pairs_per_band).alias("bh")).select(
        "doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h")
    )


def _band_inline_composed(sig, num_perm, bands):
    rows_per_band = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"mh_{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("h"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bh")).select(
        "doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h")
    )


def _centroid_sims_composed(vec_col, centroids, round_digits):
    from usgs_lidar_spark.functions.vectors import dot, norm

    vnorm = norm(vec_col)
    entries = []
    for cid, cvec in centroids:
        lit = F.array(*[F.lit(float(x)) for x in cvec])
        cnorm = _py_norm(cvec)
        if cnorm == 0.0:
            raw = F.lit(0.0)
        else:
            raw = F.when(vnorm == 0, F.lit(0.0)).otherwise(
                dot(vec_col, lit) / (vnorm * F.lit(cnorm))
            )
        entries.append(
            F.struct(
                F.round(raw, round_digits).alias("sim"),
                F.lit(-cid).cast("long").alias("negcid"),
            )
        )
    return F.array(*entries)


def _exact_argmax_composed(qvec_col, qcents):
    from usgs_lidar_spark.functions.vectors import dot_q

    entries = []
    for cid, qc, nq in qcents:
        lit = F.array(*[F.lit(int(v)).cast("long") for v in qc])
        d = dot_q(qvec_col, lit)
        if nq == 0:
            key = F.lit(0.0)
        else:
            key = d.cast("double") / F.lit(math.sqrt(float(nq)))
        entries.append(
            F.struct(
                key.alias("key"),
                F.lit(-cid).cast("long").alias("negcid"),
                d.alias("qdot"),
            )
        )
    return F.array(*entries)


# ---- fixtures ----------------------------------------------------------

CENTS = [
    (7, [0.5, 0.25, -1.0, 3.5]),
    (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm centroid branch
    (11, [1e-7, -2.5, 0.1, 0.7500000000000001]),  # sub-ULP neighbor
    (0, [-0.0, 1.0, 2.220446049250313e-16, -1000.0]),  # -0.0, eps, big
]


def _vec_df(spark):
    return spark.createDataFrame(
        [(1, [0.1, -0.5, 0.25, 1.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )


def _sh_df(spark):
    return spark.createDataFrame(
        [(1, "abcdefgh"), (1, "bcdefghi"), (2, "abcdefgh")],
        "doc_id long, shingle string",
    )


def test_mh_sig_exprs_plan_equal(spark):
    sh = _sh_df(spark)
    new = sh.groupBy("doc_id").agg(*_mh_sig_exprs(64))
    old = _sig_agg_composed(sh, 64)
    assert _same_result(new, old)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_mh_band_structs_plan_equal(spark):
    sh = _sh_df(spark)
    sig = sh.groupBy("doc_id").agg(*_mh_sig_exprs(64))
    # the self-join form references pre-computed band_b columns
    band_cols = [
        F.expr(f"xxhash64(mh_{2 * b}, mh_{2 * b + 1}) AS band_{b}")
        for b in range(32)
    ]
    banded = sig.select("doc_id", *band_cols)
    new = banded.select(
        "doc_id", F.explode(F.expr(_mh_band_struct_sql(32, 2, False))).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    old = _band_long_composed(sig, 64, 32)
    assert _same_result(new, old)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_mh_band_inline_plan_equal(spark):
    sh = _sh_df(spark)
    sig = sh.groupBy("doc_id").agg(*_mh_sig_exprs(64))
    new = sig.select(
        "doc_id", F.explode(F.expr(_mh_band_struct_sql(32, 2, True))).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    old = _band_inline_composed(sig, 64, 32)
    assert _same_result(new, old)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_centroid_sims_plan_equal(spark):
    df = _vec_df(spark)
    new = df.select(_centroid_sims("embedding", CENTS, 4).alias("a"))
    old = df.select(_centroid_sims_composed("embedding", CENTS, 4).alias("a"))
    assert _same_result(new, old)
    assert new.collect() == old.collect()


def test_exact_argmax_plan_equal(spark):
    from usgs_lidar_spark.functions.vectors import quantize_exact

    qc = _quantize_centroids_exact(CENTS[:3], 20)  # unit-scale envelope
    qdf = _vec_df(spark).select(
        "vec_id", quantize_exact("embedding", 20).alias("__qv")
    )
    new = qdf.select(_exact_argmax_structs("__qv", qc).alias("a"))
    old = qdf.select(_exact_argmax_composed(F.col("__qv"), qc).alias("a"))
    assert _same_result(new, old)
    assert new.collect() == old.collect()


def test_vector_builders_plan_equal(spark):
    """Optimization round 17: the string-name fast paths of
    functions/vectors.py (dot/norm/cosine/sign_lsh_bucket/quantize_exact
    /dot_q render ONE SQL string instead of ~25-30 py4j calls each) are
    plan-equal to the frozen Column-API compositions."""
    from usgs_lidar_spark.functions import vectors as V

    df = spark.createDataFrame(
        [
            (1, [0.1, -0.5, 0.25, 1.0], [3, -2, 7, 0]),
            (2, [0.0, 0.0, 0.0, 0.0], [0, 0, 0, 0]),
        ],
        "vec_id long, embedding array<float>, qv array<bigint>",
    )

    def composed_dot(a, b):
        prods = F.zip_with(
            V._c(a), V._c(b), lambda x, y: x.cast("double") * y.cast("double")
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)

    def composed_norm(a):
        return F.sqrt(composed_dot(a, a))

    def composed_cos(a, b):
        d = composed_dot(a, b)
        na, nb = composed_norm(a), composed_norm(b)
        return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
            d / (na * nb)
        )

    def composed_bucket(a, n):
        arr = V._c(a)
        b = F.lit(0).cast("long")
        for j in range(n):
            b = b + F.when(arr.getItem(j) > 0, F.lit(1 << j)).otherwise(
                0
            ).cast("long")
        return b

    def composed_quant(a, q):
        return F.transform(
            V._c(a),
            lambda x: F.floor(x.cast("double") * F.lit(float(2**q))).cast(
                "long"
            ),
        )

    def composed_dotq(a, b):
        prods = F.zip_with(V._c(a), V._c(b), lambda x, y: x * y)
        return F.aggregate(
            prods, F.lit(0).cast("long"), lambda acc, v: acc + v
        )

    cases = [
        (V.dot("embedding", "embedding"), composed_dot("embedding", "embedding")),
        (V.norm("embedding"), composed_norm("embedding")),
        (V.cosine("embedding", "embedding"), composed_cos("embedding", "embedding")),
        (V.sign_lsh_bucket("embedding", 4), composed_bucket("embedding", 4)),
        (V.quantize_exact("embedding", 20), composed_quant("embedding", 20)),
        (V.dot_q("qv", "qv"), composed_dotq("qv", "qv")),
    ]
    for new, old in cases:
        dn, do = df.select(new.alias("a")), df.select(old.alias("a"))
        assert _same_result(dn, do)
        assert dn.collect() == do.collect()
    # Column args and dotted names must keep the composed path (a
    # backquoted `a.b` would silently change struct-field access).
    assert V._sql_name(F.col("embedding")) is None
    assert V._sql_name("a.b") is None


def test_dlit_round_trips_exactly():
    from usgs_lidar_spark.functions.sqlbuild import dlit

    import pytest

    for x in (0.0, -0.0, 1e-323, 1.7976931348623157e308, 0.1,
              2.220446049250313e-16, -3.5, 123456789.123456789):
        assert dlit(x)[:-1] == repr(float(x))
    with pytest.raises(ValueError):
        dlit(float("nan"))
    with pytest.raises(ValueError):
        dlit(float("inf"))


# ---- lidar lifecycle builders (spatial predicates, voxel keys/aggregates) --


def _bbox_contains_composed(qminx, qmaxx, qminy, qmaxy):
    return (
        (F.col("xmin") <= F.lit(qminx))
        & (F.col("xmax") >= F.lit(qmaxx))
        & (F.col("ymin") <= F.lit(qminy))
        & (F.col("ymax") >= F.lit(qmaxy))
    )


def _within_polygon_composed(df, polygon, x_col, y_col):
    from usgs_lidar_spark.operators.spatial import point_in_polygon, polygon_bbox

    minx, miny, maxx, maxy = polygon_bbox(polygon)
    bbox = F.col(x_col).between(minx, maxx) & F.col(y_col).between(miny, maxy)
    return df.filter(bbox & point_in_polygon(polygon, x_col, y_col))


def _voxel_keys_composed(df, axes, resolutions):
    mins = df.agg(*[F.min(a).alias(f"__min_{a}") for a in axes])
    keyed = df.crossJoin(F.broadcast(mins))
    for a, r in zip(axes, resolutions):
        keyed = keyed.withColumn(
            f"i{a}",
            F.floor((F.col(a) - F.col(f"__min_{a}")) / F.lit(float(r))).cast("long"),
        )
    return keyed.drop(*[f"__min_{a}" for a in axes])


def _voxel_downsample_composed(df, axes, resolutions, round_digits=4,
                               exact_decimals=None, value_cols=()):
    keyed = _voxel_keys_composed(df, axes, resolutions)
    aggs = []
    for i, a in enumerate(axes):
        if exact_decimals is not None:
            scale = 10 ** exact_decimals[i]
            c = F.sum(F.round(F.col(a) * scale).cast("long")) / (
                F.lit(float(scale)) * F.count(F.lit(1))
            )
        else:
            c = F.avg(a)
            if round_digits is not None:
                c = F.round(c, round_digits)
        aggs.append(c.alias(f"c{a}"))
    for v in value_cols:
        c = F.avg(v)
        if round_digits is not None:
            c = F.round(c, round_digits)
        aggs.append(c.alias(f"c{v}"))
    aggs.append(F.count(F.lit(1)).alias("n_points"))
    return keyed.groupBy(*[f"i{a}" for a in axes]).agg(*aggs)


def _points_df(spark):
    return spark.createDataFrame(
        [(0.0, 0.0, 1.25, 10.0), (1.0, 2.999, -0.005, 11.0), (2.5, 3.0, 7.0, 12.0),
         (3.0, 3.0001, 7.0, 13.0), (-0.0, 1e-300, 2.0, 14.0), (9.99, 5.5, 0.1, 15.0)],
        "x double, y double, z double, w double",
    )


def test_bbox_contains_plan_equal(spark):
    from usgs_lidar_spark.operators.spatial import bbox_contains

    cat = spark.createDataFrame(
        [(0.0, 100.0, 0.0, 100.0), (5.0, 15.0, 5.0, 15.0), (-0.0, 10.0, 0.1, 10.0)],
        "xmin double, xmax double, ymin double, ymax double",
    )
    for q in [(0.1, 10.0, 0.1, 10.0), (-0.0, 1e-300, 5.0, 15.0), (6.0, 7.0, 6.0, 7.0)]:
        new = cat.filter(bbox_contains(qminx=q[0], qmaxx=q[1], qminy=q[2], qmaxy=q[3]))
        old = cat.filter(_bbox_contains_composed(*q))
        assert _same_result(new, old)
        assert new.collect() == old.collect()


def test_filter_within_polygon_plan_equal(spark):
    from usgs_lidar_spark.operators.spatial import filter_within_polygon

    pts = _points_df(spark)
    poly = [(-1.0, -1.0), (4.0, 0.5), (3.0, 3.0), (0.5, 3.0)]
    new = filter_within_polygon(pts, poly, x_col="x", y_col="y")
    old = _within_polygon_composed(pts, poly, "x", "y")
    assert _same_result(new, old)
    assert new.collect() == old.collect()


def test_voxel_builders_plan_equal(spark):
    from usgs_lidar_spark.operators.voxel import voxel_downsample, voxel_keys

    pts = _points_df(spark)
    axes, res = ["x", "y", "z"], [2.5, 3.0, 0.5]
    new, old = voxel_keys(pts, axes, res), _voxel_keys_composed(pts, axes, res)
    assert new.columns == old.columns
    assert _same_result(new, old)
    for kw in ({}, {"round_digits": None}, {"exact_decimals": [2, 3, 3]},
               {"value_cols": ["w"]}, {"round_digits": 2, "value_cols": ["w"]}):
        new = voxel_downsample(pts, axes, res, **kw)
        old = _voxel_downsample_composed(pts, axes, res, **kw)
        assert new.columns == old.columns
        assert _same_result(new, old), kw
        assert sorted(new.collect()) == sorted(old.collect())
