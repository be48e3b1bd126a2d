"""Flagship lifecycle, classic relational ops (F/J/A/G/O/U/T/M/X/W/R), as-of, first dedup/text/similarity tier.

Mechanically split from plans/queries.py (round 11) — query function
source text is byte-identical to the single-file original, so every
REPLICA fingerprint (sha256 of query source + oracle SQL) is unchanged.
Registration happens at import time via `registry.query`; the import
order is fixed by plans/queries.py (the aggregator), preserving the
original definition order and every backward ORACLE[...] reference.
"""

from __future__ import annotations

from usgs_lidar_spark.plans.registry import (
    DataFrame,
    F,
    ORACLE,
    SparkSession,
    Window,
    _t,
    dec_avg,
    dec_sum,
    query,
    voxel_downsample,
)

# =====================================================================
# Flagship — the reference's end-to-end lifecycle re-grounded on the
# synthetic star schema: scan -> noise filter (F1) -> projection (P1)
# -> voxel-grid barycenter aggregation (A1+A2+M2) -> sort (O1).
# Reference: fetch_data + subsample, /root/reference/scripts/
# usgs_lidar.py:312-340, 400-439.
# =====================================================================


@query(
    "flagship_voxel_subsample",
    oracle="""
    WITH pts AS (
        SELECT l_extendedprice AS x, l_quantity AS y, l_discount AS z
        FROM lineitem WHERE l_linenumber <> 7
    ), mins AS (
        SELECT min(x) AS mx, min(y) AS my, min(z) AS mz FROM pts
    )
    SELECT CAST(floor((x - mx) / 1000.0) AS BIGINT) AS ix,
           CAST(floor((y - my) / 5.0)    AS BIGINT) AS iy,
           CAST(floor((z - mz) / 0.02)   AS BIGINT) AS iz,
           CAST(SUM(CAST(ROUND(x * 100) AS BIGINT)) AS DOUBLE)
                 / (100.0 * count(*)) AS cx,
           CAST(SUM(CAST(ROUND(y * 100) AS BIGINT)) AS DOUBLE)
                 / (100.0 * count(*)) AS cy,
           CAST(SUM(CAST(ROUND(z * 100) AS BIGINT)) AS DOUBLE)
                 / (100.0 * count(*)) AS cz,
           count(*) AS n_points
    FROM pts, mins
    GROUP BY 1, 2, 3
    """,
)
def flagship_voxel_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noise-filter + voxel barycenter downsample (the reference flagship).

    lineitem stands in for the point cloud: (x, y, z) =
    (l_extendedprice, l_quantity, l_discount); `l_linenumber <> 7` mirrors
    the LAS class-7 noise filter (/root/reference/pipeline.json:10-14).
    """
    li = _t(spark, sf_dir, "lineitem")
    pts = li.filter(F.col("l_linenumber") != 7).select(
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").alias("y"),
        F.col("l_discount").alias("z"),
    )
    return voxel_downsample(
        pts, ["x", "y", "z"], [1000.0, 5.0, 0.02], exact_decimals=[2, 2, 2]
    )


# =====================================================================
# Filters / predicates (SURVEY.md §2 F1, F2)
# =====================================================================


@query(
    "f1_range_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_linenumber <> 7 AND NOT (l_quantity BETWEEN 10 AND 40)
    """,
)
def f1_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/inequality predicate — the `Classification![7:7]` noise filter
    generalized (/root/reference/pipeline.json:10-14). Both predicates are
    pushed to the parquet scan (PushedFilters in .explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_linenumber") != 7) & ~F.col("l_quantity").between(10, 40)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@query(
    "f2_bbox_containment",
    oracle="""
    SELECT p_partkey, p_name, p_size, p_retailprice
    FROM part
    WHERE p_retailprice >= 1200.0 AND p_retailprice <= 1600.0
      AND p_size >= 10 AND p_size <= 40
    """,
)
def f2_bbox_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way AND of theta comparisons — the bbox containment predicate shape
    of fetch_regions (/root/reference/scripts/usgs_lidar.py:297-303)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        (F.col("p_retailprice") >= 1200.0)
        & (F.col("p_retailprice") <= 1600.0)
        & (F.col("p_size") >= 10)
        & (F.col("p_size") <= 40)
    ).select("p_partkey", "p_name", "p_size", "p_retailprice")


# =====================================================================
# Joins (SURVEY.md §2 J1, J2, J3)
# =====================================================================


@query(
    "j1_broadcast_lookup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def j1_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog equi-lookup as a BroadcastHashJoin — the reference's per-region
    year lookup (/root/reference/scripts/usgs_lidar.py:326-329) generalized:
    fact joined to two broadcast dimensions."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum("c_acctbal").alias("total_acctbal"),
        )
    )


@query(
    "j2_theta_containment_join",
    oracle="""
    SELECT s.s_suppkey, count(*) AS n_contained,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_contained_bal
    FROM supplier s JOIN customer c
      ON c.c_acctbal >= s.s_acctbal - 500.0
     AND c.c_acctbal <= s.s_acctbal + 500.0
     AND c.c_nationkey = s.s_nationkey
    GROUP BY s.s_suppkey
    """,
)
def j2_theta_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join — the generalized polygon-bbox vs
    catalog-bbox containment join (/root/reference/scripts/
    usgs_lidar.py:291-303). The equi-key (nationkey) lets Spark use a real
    hash join with the range as a post-join predicate instead of a pure
    BroadcastNestedLoopJoin — the same trick (grid-cell equi-bucketing)
    scales the spatial version."""
    s = _t(spark, sf_dir, "supplier").alias("s")
    c = _t(spark, sf_dir, "customer").alias("c")
    cond = (
        (F.col("c.c_acctbal") >= F.col("s.s_acctbal") - 500.0)
        & (F.col("c.c_acctbal") <= F.col("s.s_acctbal") + 500.0)
        & (F.col("c.c_nationkey") == F.col("s.s_nationkey"))
    )
    return (
        s.join(c, cond)
        .groupBy("s.s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_contained"),
            dec_sum("c.c_acctbal").alias("sum_contained_bal"),
        )
    )


@query(
    "j3_star_join_agg",
    oracle="""
    SELECT c_mktsegment, o_orderstatus,
           count(*) AS n_lineitems,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderstatus
    """,
)
def j3_star_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-join family over the star schema (fact ⋈ two dims) with a
    partial+final hash aggregate. orders/customer broadcast when under the
    threshold; at 100 TB they'd shuffle-hash-join on the key with AQE."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
                )
                / F.lit(10000.0)
            ).alias("revenue"),
        )
    )


@query(
    "j4_bloom_prefilter_join",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           count(*) AS n_lineitems,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_qty
    FROM lineitem
    JOIN (SELECT o_orderkey, o_orderdate FROM orders
          WHERE o_orderpriority = '1-URGENT') o
      ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def j4_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered selective join (round 16 —
    `operators/bloomjoin.bloom_prefilter_join`): monthly quantity for
    lineitems of URGENT orders, with the fact side bloom-reduced
    BEFORE the join. The build side (~1/5 of orders) is the mid-size
    case the operator exists for: too big to broadcast as exact keys
    at 100 TB, but its key SET fits a 128 KiB bitmap — the probe
    side's exchange then carries |matching| + ~1% false positives
    instead of every lineitem (SCALE.md, "Round 16 (cont. 5): bloom
    semi-join reduction", measures the cut with the broadcast fallback
    disabled). The bloom
    is semantically transparent (no false negatives; the exact join
    drops the false positives), so the oracle is the PLAIN SQL join —
    hash equality proves the reduction changes nothing."""
    from usgs_lidar_spark.operators.bloomjoin import bloom_prefilter_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    build = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    )
    return (
        bloom_prefilter_join(li, build, "l_orderkey")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            dec_sum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "j3_left_join_null_label",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS n_big_orders,
           coalesce(max(o.o_orderstatus), 'not_specified') AS status_label
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
      ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def j3_left_join_null_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + null labeling — the reference's null-year rewrite
    `"nan" -> "Year: not_specified"` (/root/reference/scripts/
    usgs_lidar.py:329-332) expressed as coalesce over join nulls (T5)."""
    c = _t(spark, sf_dir, "customer").alias("c")
    big = (
        _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0).alias("o")
    )
    return (
        c.join(big, F.col("o.o_custkey") == F.col("c.c_custkey"), "left")
        .groupBy("c.c_custkey")
        .agg(
            F.count("o.o_orderkey").alias("n_big_orders"),
            F.coalesce(F.max("o.o_orderstatus"), F.lit("not_specified")).alias(
                "status_label"
            ),
        )
    )


@query(
    "j3_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0)
    """,
)
def j3_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "j3_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j3_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# =====================================================================
# Aggregations / grouping (SURVEY.md §2 A1-A4, G1)
# =====================================================================


@query(
    "a1_global_minmax",
    oracle="""
    SELECT min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
           count(*) AS n_rows
    FROM lineitem
    """,
)
def a1_global_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global min/max (the voxel anchor aggregate, /root/reference/scripts/
    usgs_lidar.py:416). Min/max of stored values — exact, no rounding."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "g1_group_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def g1_group_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-by-year keyed outputs — the reference's dict[year -> df]
    (/root/reference/scripts/usgs_lidar.py:312-340) as a groupBy('year');
    on disk the same key is write.partitionBy (see sources/writers.py)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("total_price"),
    )


# =====================================================================
# Sorts / limits (SURVEY.md §2 O1, O3)
# =====================================================================


@query(
    "o1_sort_nulls_last",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey,
               max(o.o_orderdate) AS last_big_order
        FROM customer c
        LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    SELECT c_custkey, last_big_order,
           CAST(row_number() OVER (ORDER BY last_big_order ASC NULLS LAST,
                                   c_custkey) AS BIGINT) AS sort_rank
    FROM per_cust
    """,
)
def o1_sort_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nulls-last ascending sort — the reference's catalog year sort where
    NaN years sort last (/root/reference/scripts/usgs_lidar.py:304, demo
    cell 10). row_number() materializes the global order so the oracle's
    order-insensitive hash still verifies the sort semantics."""
    c = _t(spark, sf_dir, "customer").alias("c")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0).alias("o")
    per_cust = (
        c.join(big, F.col("o.o_custkey") == F.col("c.c_custkey"), "left")
        .groupBy("c.c_custkey")
        .agg(F.max("o.o_orderdate").alias("last_big_order"))
    )
    w = Window.orderBy(F.col("last_big_order").asc_nulls_last(), F.col("c_custkey"))
    return per_cust.select(
        "c_custkey",
        "last_big_order",
        F.row_number().over(w).cast("long").alias("sort_rank"),
    )


@query(
    "o3_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 15
    """,
)
def o3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k = TakeOrderedAndProject: per-partition heap + driver merge of k
    rows, never a global sort. Unique tie-break keys keep it deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(15)
    )


# =====================================================================
# Set ops (SURVEY.md §2 U1, A4)
# =====================================================================


@query(
    "u1_union_all",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_totalprice > 300000.0
    """,
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two slices (the distributed form of the reference's
    row-at-a-time append, /root/reference/scripts/usgs_lidar.py:263-271)."""
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select(*cols)
        .unionByName(o.filter(F.col("o_totalprice") > 300000.0).select(*cols))
    )


@query(
    "u1_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
    """,
)
def u1_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — customers with both a finished and a big order."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .intersect(o.filter(F.col("o_totalprice") > 300000.0).select("o_custkey"))
    )


@query(
    "u1_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
    """,
)
def u1_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — `subtract` is Spark's set-difference with
    SQL EXCEPT semantics (distinct rows of left not present in right)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .subtract(o.filter(F.col("o_totalprice") > 300000.0).select("o_custkey"))
    )


# =====================================================================
# String / regex functions (SURVEY.md §2 T1-T5)
# =====================================================================


@query(
    "t1_regex_year_extract",
    oracle="""
    WITH named AS (
        SELECT o_orderkey,
               'SURVEY_' || strftime(o_orderdate, '%Y') || '_A' AS filename
        FROM orders
    )
    SELECT o_orderkey, filename,
           CAST(nullif(regexp_extract(filename, '20[0-9][0-9]+', 0), '')
                AS INTEGER) AS survey_year
    FROM named
    """,
)
def t1_regex_year_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the reference's year regex `20[0-9][0-9]+` over filename-shaped
    strings (/root/reference/scripts/usgs_lidar.py:224-242) — matches 2000/
    2001, NULL for 19xx (the reference returns None on no-match)."""
    from usgs_lidar_spark.functions.strings import extract_year

    o = _t(spark, sf_dir, "orders")
    named = o.select(
        "o_orderkey",
        F.concat(
            F.lit("SURVEY_"), F.date_format("o_orderdate", "yyyy"), F.lit("_A")
        ).alias("filename"),
    )
    return named.select(
        "o_orderkey", "filename", extract_year("filename").alias("survey_year")
    )


@query(
    "t2_strip_chars",
    oracle="""
    SELECT c_custkey,
           translate(c_name, '#', '') AS stripped,
           CAST(coalesce(nullif(regexp_replace(c_name, '^Customer#0*', ''), ''), '0')
                AS BIGINT) AS parsed_key
    FROM customer
    """,
)
def t2_strip_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: character strip (`location.replace('/','')`,
    /root/reference/scripts/usgs_lidar.py:234) via translate, plus a
    regexp_replace parse that must round-trip the customer key."""
    from usgs_lidar_spark.functions.strings import strip_chars

    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        strip_chars("c_name", "#").alias("stripped"),
        F.coalesce(
            F.nullif(F.regexp_replace("c_name", "^Customer#0*", ""), F.lit("")),
            F.lit("0"),
        )
        .cast("long")
        .alias("parsed_key"),
    )


@query(
    "t3_t4_serialization",
    oracle="""
    SELECT s_suppkey,
           printf('POINT(%.2f %.2f)', s_acctbal, CAST(s_suppkey AS DOUBLE)) AS wkt,
           printf('([%.2f, %.2f],[%d, %d])',
                  least(s_acctbal, 0.0), greatest(s_acctbal, 0.0),
                  s_nationkey, s_nationkey + 1) AS bounds
    FROM supplier
    """,
)
def t3_t4_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/T4: WKT / bounds string serialization
    (/root/reference/scripts/usgs_lidar.py:73-82) via format_string.
    Inputs are exact 2-decimal values so %.2f never hits a rounding edge."""
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.format_string(
            "POINT(%.2f %.2f)", F.col("s_acctbal"), F.col("s_suppkey").cast("double")
        ).alias("wkt"),
        F.format_string(
            "([%.2f, %.2f],[%d, %d])",
            F.least(F.col("s_acctbal"), F.lit(0.0)),
            F.greatest(F.col("s_acctbal"), F.lit(0.0)),
            F.col("s_nationkey"),
            F.col("s_nationkey") + 1,
        ).alias("bounds"),
    )


# =====================================================================
# Math / geo functions (SURVEY.md §2 M1, M2)
# =====================================================================


@query(
    "m1_mercator_reproject",
    oracle="""
    WITH geo AS (
        SELECT c_custkey,
               CAST(c_custkey % 360 AS DOUBLE) - 180.0 + 0.25 AS lon,
               CAST(c_custkey % 170 AS DOUBLE) - 84.5 AS lat
        FROM customer
    )
    SELECT c_custkey,
           ROUND(6378137.0 * radians(lon), 2) AS merc_x,
           ROUND(6378137.0 * ln(tan(pi()/4 + radians(lat)/2)), 2) AS merc_y,
           ROUND(degrees((6378137.0 * radians(lon)) / 6378137.0), 6) AS lon_rt,
           ROUND(degrees(2 * atan(exp((6378137.0 * ln(tan(pi()/4 + radians(lat)/2)))
                 / 6378137.0)) - pi()/2), 6) AS lat_rt
    FROM geo
    """,
)
def m1_mercator_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: closed-form Web-Mercator reprojection (EPSG:4326<->3857) as pure
    column math — the engine's replacement for the reference's pyproj
    `convert_epsg` (/root/reference/scripts/usgs_lidar.py:441-463) and the
    PDAL reprojection stage (pipeline.json:15-20). Forward + roundtrip,
    rounded (cm / micro-degree) to absorb libm-vs-JVM trig ulps."""
    from usgs_lidar_spark.functions import mercator as M

    c = _t(spark, sf_dir, "customer")
    geo = c.select(
        "c_custkey",
        ((F.col("c_custkey") % 360).cast("double") - 180.0 + 0.25).alias("lon"),
        ((F.col("c_custkey") % 170).cast("double") - 84.5).alias("lat"),
    )
    x = M.lon_to_x("lon")
    y = M.lat_to_y("lat")
    return geo.select(
        "c_custkey",
        F.round(x, 2).alias("merc_x"),
        F.round(y, 2).alias("merc_y"),
        F.round(M.x_to_lon(x), 6).alias("lon_rt"),
        F.round(M.y_to_lat(y), 6).alias("lat_rt"),
    )


@query(
    "m2_grid_keys",
    oracle="""
    WITH mn AS (SELECT min(l_extendedprice) AS mp FROM lineitem)
    SELECT CAST(floor((l_extendedprice - mp) / 5000.0) AS BIGINT) AS price_bucket,
           count(*) AS n
    FROM lineitem, mn
    GROUP BY 1
    """,
)
def m2_grid_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: grid-key arithmetic `floor((col - min)/res)`
    (/root/reference/scripts/usgs_lidar.py:416) — histogram form; the global
    min is broadcast, not collected."""
    li = _t(spark, sf_dir, "lineitem")
    mn = li.agg(F.min("l_extendedprice").alias("mp"))
    return (
        li.crossJoin(F.broadcast(mn))
        .groupBy(
            F.floor((F.col("l_extendedprice") - F.col("mp")) / 5000.0)
            .cast("long")
            .alias("price_bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _tmerc_oracle_sql() -> str:
    """DuckDB replay of the Krüger forward series (functions/tmerc.py),
    with hyperbolics spelled via exp/ln (DuckDB has none built in). The
    numeric coefficients are repr()'d from the very constants the Spark
    expressions use, so the two sides compute the same series; cm rounding
    absorbs libm-vs-JVM ulps."""
    from usgs_lidar_spark.functions import tmerc as _TM

    con = repr(_TM._CON)
    a1, a2, a3, a4 = (repr(c) for c in _TM._ALPHA)
    k0a = repr(_TM.UTM_K0 * _TM._A_BAR)

    def atanh(u: str) -> str:
        return f"0.5 * ln((1.0 + ({u})) / (1.0 - ({u})))"

    def sinh(v: str) -> str:
        return f"(exp({v}) - exp(-({v}))) / 2.0"

    def cosh(v: str) -> str:
        return f"(exp({v}) + exp(-({v}))) / 2.0"

    return f"""
    WITH geo AS (
        SELECT c_custkey,
               12.0 + CAST(c_custkey % 600 AS DOUBLE) / 100.0 AS lon,
               CAST(c_custkey % 1680 AS DOUBLE) / 10.0 - 84.0 AS lat
        FROM customer
    ), s1 AS (
        SELECT c_custkey, sin(radians(lat)) AS sphi,
               radians(lon - 15.0) AS dlam
        FROM geo
    ), s2 AS (
        SELECT c_custkey, dlam,
               {atanh("sphi")} - {con} * {atanh(f"{con} * sphi")} AS q
        FROM s1
    ), s3 AS (
        SELECT c_custkey, dlam, {sinh("q")} AS t FROM s2
    ), s4 AS (
        SELECT c_custkey, atan2(t, cos(dlam)) AS xip,
               sin(dlam) / sqrt(1.0 + t * t) AS w
        FROM s3
    ), s5 AS (
        SELECT c_custkey, xip, {atanh("w")} AS etap FROM s4
    ), s6 AS (
        SELECT c_custkey,
               xip + {a1} * sin(2.0 * xip) * {cosh("2.0 * etap")}
                   + {a2} * sin(4.0 * xip) * {cosh("4.0 * etap")}
                   + {a3} * sin(6.0 * xip) * {cosh("6.0 * etap")}
                   + {a4} * sin(8.0 * xip) * {cosh("8.0 * etap")} AS xi,
               etap + {a1} * cos(2.0 * xip) * {sinh("2.0 * etap")}
                    + {a2} * cos(4.0 * xip) * {sinh("4.0 * etap")}
                    + {a3} * cos(6.0 * xip) * {sinh("6.0 * etap")}
                    + {a4} * cos(8.0 * xip) * {sinh("8.0 * etap")} AS eta
        FROM s5
    )
    SELECT c_custkey,
           ROUND(500000.0 + {k0a} * eta, 2) AS easting,
           ROUND({k0a} * xi, 2) AS northing
    FROM s6
    """


@query("m3_utm_reproject", oracle=_tmerc_oracle_sql())
def m3_utm_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: ellipsoidal transverse Mercator (EPSG:4326 -> 32633) as pure
    column math — the UTM leg of the reference's pyproj `to_crs`
    (/root/reference/scripts/usgs_lidar.py:441-463) without any UDF.
    Synthetic lon/lat spans the full zone-33 band (12..18°E, ±84° lat);
    rounded to cm on both sides. Inverse is pinned at µm by
    tests/test_functions.py::test_tmerc_roundtrip_micrometer."""
    from usgs_lidar_spark.functions import tmerc

    c = _t(spark, sf_dir, "customer")
    geo = c.select(
        "c_custkey",
        (F.lit(12.0) + (F.col("c_custkey") % 600).cast("double") / 100.0).alias(
            "lon"
        ),
        ((F.col("c_custkey") % 1680).cast("double") / 10.0 - 84.0).alias("lat"),
    )
    E, N = tmerc.utm_forward("lon", "lat", 32633)
    return geo.select(
        "c_custkey",
        F.round(E, 2).alias("easting"),
        F.round(N, 2).alias("northing"),
    )


class _AffineDemoFactory:
    """Picklable transformer factory for the UDF reprojection tier's
    oracled query: a fixed affine map (x*2 + 1, y - 0.5) standing in for
    a pyproj Transformer (same ``.transform(xs, ys)`` protocol). Exact
    in IEEE doubles — one multiply-by-2 (exponent shift) and additions
    of representable constants — so the oracle reproduces every bit."""

    def __call__(self):
        return self

    def transform(self, xs, ys):
        return xs * 2.0 + 1.0, ys - 0.5


@query(
    "m4_reproject_udf_tier",
    oracle="""
    SELECT c_custkey,
           (12.0 + CAST(c_custkey % 600 AS DOUBLE) / 100.0) * 2.0 + 1.0
               AS x_out,
           (CAST(c_custkey % 1680 AS DOUBLE) / 10.0 - 84.0) - 0.5
               AS y_out
    FROM customer
    """,
)
def m4_reproject_udf_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (round 11): the GENERAL-EPSG tier of `functions/projection.
    reproject_any` under a hard oracle — an exotic pair (4326 -> 2193)
    routes through the Arrow-batched pandas-UDF path (pyproj protocol;
    here the injected exact-affine transformer, since the container
    ships no geodesy lib), returning the UDF struct's fields as the
    (x', y') column pair. What this hash-checks is the full UDF tier
    plumbing — Arrow batch transfer both ways, struct field extraction,
    per-worker transformer cache — not just metadata: the affine map is
    bit-exact in IEEE doubles, so DuckDB reproduces every output bit
    from the same synthetic lon/lat grid m3 uses. At scale this stage
    is map-only (no shuffle); a real pyproj Transformer slots into the
    identical contract (pinned by the skipif NZTM golden in
    tests/test_functions.py)."""
    from usgs_lidar_spark.functions.projection import reproject_any

    c = _t(spark, sf_dir, "customer")
    geo = c.select(
        "c_custkey",
        (F.lit(12.0) + (F.col("c_custkey") % 600).cast("double") / 100.0).alias(
            "lon"
        ),
        ((F.col("c_custkey") % 1680).cast("double") / 10.0 - 84.0).alias("lat"),
    )
    x2, y2 = reproject_any(
        "lon", "lat", 4326, 2193, transformer_factory=_AffineDemoFactory()
    )
    return geo.select(
        "c_custkey", x2.alias("x_out"), y2.alias("y_out")
    )


# =====================================================================
# JSON functions (SURVEY.md §2 X1)
# =====================================================================


@query(
    "x1_json_extract",
    oracle="""
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
           count(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
               AS k_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def x1_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: JSON field extraction from the crawled payload
    (/root/reference/scripts/usgs_lidar.py:260-271) — get_json_object over
    the events.props JSON column, then aggregation on the extracted field.
    Also exercises the TIMESTAMP(NANOS) parquet read path end-to-end."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy(
        "event_type", (k % 10).alias("k_mod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k.cast("long")).alias("k_sum"),
    )


# =====================================================================
# Window functions (SURVEY.md §2 W1)
# =====================================================================


@query(
    "w1_row_number",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS BIGINT)
               AS order_seq
    FROM orders
    """,
)
def w1_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ranking window — per-customer order sequence (unique tie-break
    key keeps it deterministic)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


@query(
    "w1_lag_lead",
    oracle="""
    SELECT o_orderkey, o_custkey,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_orderstatus) OVER w AS next_status
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)
def w1_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: lag/lead analytics — pure value passthrough (no arithmetic, so
    doubles compare exactly)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_orderstatus").over(w).alias("next_status"),
    )


@query(
    "w1_running_sum",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS running_total
    FROM orders
    """,
)
def w1_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: running-sum frame. Summed as scaled BIGINTs — window aggregates
    use different accumulation structures per engine (segment trees vs
    streaming), so double sums would drift in the last ulp."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(cents).over(w) / F.lit(100.0)).alias("running_total"),
    )


@query(
    "w1_rank_dense_rank",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(rank()       OVER w AS BIGINT) AS qty_rank,
           CAST(dense_rank() OVER w AS BIGINT) AS qty_dense_rank
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
    """,
)
def w1_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: rank/dense_rank — tie-tolerant ranking (same rank for equal
    quantities, so no tie-break needed)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.rank().over(w).cast("long").alias("qty_rank"),
        F.dense_rank().over(w).cast("long").alias("qty_dense_rank"),
    )


# =====================================================================
# Event-time windows (SURVEY.md §2 R1) — batch-equivalent forms of the
# Structured Streaming operators in usgs_lidar_spark/streaming/.
# =====================================================================


@query(
    "r1_tumbling_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '10 minutes',
                                date_trunc('microseconds', ts)),
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def r1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: tumbling event-time window (10 min) — the batch-equivalent of
    `groupBy(window(ts, '10 minutes'))`; the streaming variant with
    watermarking lives in streaming/events.py."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


@query(
    "r1_sliding_window",
    oracle="""
    WITH e AS (SELECT date_trunc('microseconds', ts) AS ts, value FROM events),
    assigned AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start, value FROM e
        UNION ALL
        SELECT time_bucket(INTERVAL '10 minutes', ts, INTERVAL '5 minutes')
            AS win_start, value FROM e
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS value_sum
    FROM assigned
    GROUP BY 1
    """,
)
def r1_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: sliding window (10 min width, 5 min slide) — each event lands in
    two overlapping windows; the oracle reproduces that with two
    offset-aligned time_buckets."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "value_sum",
        )
    )


@query(
    "r1_session_window",
    oracle="""
    WITH e AS (
        SELECT user_id, date_trunc('microseconds', ts) AS ts, value FROM events
    ), flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         IS NULL
                     OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '5 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM e
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           count(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS value_sum
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def r1_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: session window (5 min inactivity gap) — Spark's session_window
    vs the classic gaps-and-islands SQL. A new session starts when the gap
    is >= the timeout (Spark sessions span [ts, ts+gap))."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("value_sum"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n_events",
            "value_sum",
        )
    )


# =====================================================================
# As-of join (extension; SURVEY.md §2 J3 "as-of")
# =====================================================================


@query(
    "asof_purchase_before_click",
    oracle="""
    WITH e AS (
        SELECT event_id, date_trunc('microseconds', ts) AS ts,
               user_id, event_type, value
        FROM events
    ), c AS (SELECT * FROM e WHERE event_type = 'click'),
       p AS (SELECT * FROM e WHERE event_type = 'purchase')
    SELECT c.event_id AS click_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS asof_ts,
           p.value AS asof_value
    FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_purchase_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the user's most recent purchase at or
    before it. Union + running last() — one shuffle, no range explosion
    (see operators/asof.py for the 100 TB design rationale)."""
    from usgs_lidar_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    joined = asof_join(
        clicks,
        purchases,
        partition_keys=["user_id"],
        ts_col="ts",
        payload_cols=["value"],
        tie_break="event_id",
    )
    return joined.select(
        "click_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("asof_ts"),
        F.col("asof_value"),
    )


# =====================================================================
# Deduplication (north-star extension; SURVEY.md §2 "Extension operators")
# =====================================================================

#: Shared oracle CTE: distinct char-8 shingles per doc, frequency-capped at
#: max_df=20 (the skew guard — see operators/dedup.char_shingles).
_SHINGLE_CTE = """
    sh0 AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(length(text) - 7, 0) + 1),
                          i -> substr(text, CAST(i AS INTEGER), 8))) AS shingle
            FROM documents)
    ), freq AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 20
    ), sh AS (
        SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN freq USING (shingle)
    ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), jac AS (
        SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
               CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    )
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT text AS text_key, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on text, min-id representative."""
    from usgs_lidar_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT id_a, id_b, n_inter, n_a, n_b, jaccard
    FROM jac WHERE jaccard >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (k=8, J>=0.6, df-cap 20):
    shingle-explode -> equi-self-join -> integer intersection counts ->
    one double division (deterministic across engines)."""
    from usgs_lidar_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        k=8, threshold=0.6, max_df=20,
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT id_a, id_b, jaccard
    FROM jac WHERE jaccard >= 0.6
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection (64 perms, 32 bands x 2 rows,
    candidates verified with exact Jaccard). The oracle is the exact
    Jaccard join: with r=2/b=32 the probability of missing a J>=0.6 pair
    is (1-0.36)^32 ~ 6e-7, and verification removes all false positives,
    so LSH output == exact output on this data. The LSH plan itself never
    compares all pairs — candidates come from the band-hash equi-join."""
    from usgs_lidar_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        k=8, num_perm=64, bands=32, threshold=0.6, max_df=20,
    )


# (dedup_simhash64 retired in round 10: the xxhash64 fingerprint surface
# is covered by `dedup_simhash_portable`, whose two-round-Lehmer hash
# family carries a HARD DuckDB oracle; the xxhash64 kernel itself stays
# exercised by operators/dedup.simhash64's unit tests.)


# =====================================================================
# Text analysis (north-star extension)
# =====================================================================


@query(
    "text_token_stats",
    oracle=r"""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               AS n_bpe_tokens,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                     / length(text) END AS punct_ratio
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokenizers, punctuation
    ratio. All JVM-side regexp/split expressions; ratios are unrounded
    int/int divisions (bit-deterministic)."""
    from usgs_lidar_spark.functions import textstats as TS

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TS.token_count("text").alias("n_ws_tokens"),
        TS.bpe_token_count("text").alias("n_bpe_tokens"),
        TS.punct_ratio("text").alias("punct_ratio"),
    )


@query(
    "text_quality_score",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, text,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS tokens
        FROM documents
    ), stats AS (
        SELECT doc_id,
               len(tokens) AS n_tokens,
               CASE WHEN len(tokens) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(tokens, t -> list_contains(
                         ['the','and','of','to','in','is','that','it'], t)))
                         AS DOUBLE) / len(tokens) END AS stop_ratio,
               CASE WHEN len(tokens) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(tokens, t -> length(t)))
                         AS DOUBLE) / len(tokens) END AS avg_token_len
        FROM toks
    )
    SELECT doc_id, n_tokens, stop_ratio, avg_token_len,
           (stop_ratio * 0.4) + (least(n_tokens, 100) / 100.0 * 0.3)
               + (least(avg_token_len, 10.0) / 10.0 * 0.3) AS quality
    FROM stats
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, token-length stats, bounded linear
    combination. The score expression is structured identically on both
    sides so double arithmetic is bit-identical."""
    from usgs_lidar_spark.functions import textstats as TS

    d = _t(spark, sf_dir, "documents")
    toks = TS.ws_tokens("text")
    n_tokens = F.size(toks).cast("long")
    stop_ratio = TS.stopword_ratio("text")
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    avg_token_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        tok_len_sum.cast("double") / n_tokens
    )
    base = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        avg_token_len.alias("avg_token_len"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "stop_ratio",
        "avg_token_len",
        (
            (F.col("stop_ratio") * 0.4)
            + (F.least(F.col("n_tokens"), F.lit(100)) / 100.0 * 0.3)
            + (F.least(F.col("avg_token_len"), F.lit(10.0)) / 10.0 * 0.3)
        ).alias("quality"),
    )


@query(
    "text_lang_id",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS tokens
        FROM documents
    ), hits AS (
        SELECT doc_id,
            CAST(len(list_filter(tokens, t -> list_contains(['the','and','of','to','in','is','that','it'], t))) AS BIGINT) AS en_hits,
            CAST(len(list_filter(tokens, t -> list_contains(['der','die','und','das','ist','nicht','ein','zu'], t))) AS BIGINT) AS de_hits,
            CAST(len(list_filter(tokens, t -> list_contains(['le','la','et','les','des','est','une','dans'], t))) AS BIGINT) AS fr_hits,
            CAST(len(list_filter(tokens, t -> list_contains(['el','la','de','que','y','los','es','una'], t))) AS BIGINT) AS es_hits
        FROM toks
    )
    SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
           CASE WHEN en_hits > 0 AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
                WHEN de_hits > 0 AND de_hits > en_hits AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
                WHEN fr_hits > 0 AND fr_hits > en_hits AND fr_hits > de_hits AND fr_hits >= es_hits THEN 'fr'
                WHEN es_hits > 0 AND es_hits > en_hits AND es_hits > de_hits AND es_hits > fr_hits THEN 'es'
                ELSE 'und' END AS lang_guess
    FROM hits
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language, argmax
    with fixed priority tie-break (en > de > fr > es), 'und' on zero hits."""
    from usgs_lidar_spark.functions import textstats as TS

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TS.lang_marker_hits("text", "en").alias("en_hits"),
        TS.lang_marker_hits("text", "de").alias("de_hits"),
        TS.lang_marker_hits("text", "fr").alias("fr_hits"),
        TS.lang_marker_hits("text", "es").alias("es_hits"),
        TS.lang_id("text").alias("lang_guess"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(text) < 1 THEN CAST(0 AS BIGINT) ELSE
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, least(length(text), 64) + 1),
                   i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007)
           END AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: polynomial rolling hash over the first 64
    chars, h = fold(h*31 + ascii(c)) mod 1e9+7 — higher-order aggregate
    in Spark, list_reduce in the oracle, same fold both sides."""
    from usgs_lidar_spark.functions.textstats import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp"))


@query(
    "docs_rollup_cube",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
)
def docs_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional rollup: CUBE(lang, source) — grouping-set
    aggregation (the reference's per-year dict generalized to N dims)."""
    d = _t(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# =====================================================================
# Similarity search (north-star extension)
# =====================================================================

_COSINE_SQL = """
        ROUND(
          list_sum(list_transform(list_zip(c.embedding, q.qv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(c.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(q.qv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
"""


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding FROM embeddings),
    sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
        {_COSINE_SQL}
        FROM c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= 5
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast query set x corpus, per-query window
    top-k with deterministic tie-break on (rounded sim, neighbor id)."""
    from usgs_lidar_spark.operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5,
    )


@query(
    "sim_topk_lsh",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding,
               CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                  + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                  + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
                  + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
                  + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
                  + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
                  + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS BIGINT)
                   AS bucket
        FROM embeddings
    ), q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
             FROM b WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding, bucket FROM b),
    sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
        {_COSINE_SQL}
        FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= 5
    """,
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via deterministic sign-bit LSH buckets (axis-aligned
    hyperplanes over the first 8 dims): candidates come from the bucket
    equi-join — each probe scans ~1/256 of the corpus at scale."""
    from usgs_lidar_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_lsh(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5, n_bits=8,
    )


# =====================================================================
# Multimodal binary columns (north-star extension) — Arrow/mapInPandas
# plumbing with SQL-checkable features.
# =====================================================================


@query(
    "mm_binary_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE WHEN length(text) = 0 THEN -1
                ELSE ord(substr(text, 1, 1)) END AS head_byte,
           CAST(list_sum(list_transform(range(1, length(text) + 1),
                i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)))
                % 997 AS BIGINT) AS byte_sum_mod
    FROM documents
    """,
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through mapInPandas: documents'
    UTF-8 bytes stand in for media payloads; features (byte length, head
    byte, byte-sum mod 997) are SQL-checkable so the Arrow batch path is
    oracle-verified end-to-end. (Texts here are ASCII, so the oracle's
    per-char ord() equals the UTF-8 byte values.)"""
    from usgs_lidar_spark.multimodal import binary_feature_extract, to_media_table

    d = _t(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text")
    return binary_feature_extract(media)


@query(
    "mm_frame_sample",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id, text,
               CAST(octet_length(encode(text)) // 16 AS BIGINT)
                   AS n_frames_total
        FROM documents
    ), idx AS (
        SELECT media_id, text, n_frames_total,
               unnest(range(0, CAST(n_frames_total AS INTEGER), 4)) AS i
        FROM m WHERE n_frames_total > 0
    )
    SELECT media_id, CAST(i AS BIGINT) AS frame_index, n_frames_total,
           hex(encode(substr(text, CAST(i AS INTEGER) * 16 + 1, 16)))
               AS frame_hex
    FROM idx
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media: every 4th 16-byte frame of each
    payload as its own row — the one-to-many mapInPandas shape of a video
    frame-extraction pass, oracle-checked against substring arithmetic
    (frames rendered as hex so both engines compare strings, not
    engine-specific binary encodings; this DuckDB build has no BLOB
    substring, so the oracle slices the ASCII text and hexes its UTF-8
    encoding — byte-identical to slicing the bytes for ASCII payloads)."""
    from usgs_lidar_spark.multimodal import sample_frames, to_media_table

    d = _t(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text")
    return sample_frames(media, frame_size=16, every_n=4).select(
        "media_id",
        "frame_index",
        "n_frames_total",
        F.hex("frame").alias("frame_hex"),
    )


@query(
    "mm_resize_thumbnail",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(32 AS BIGINT) AS n_bytes,
           CASE WHEN length(text) = 0 THEN repeat('00', 32)
                ELSE hex(encode(substr(
                    repeat(text,
                           CAST(ceil(32.0 / length(text)) AS INTEGER)),
                    1, 32)))
           END AS content_hex
    FROM documents
    """,
)
def mm_resize_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thumbnailing pass (`multimodal/binary_ops.fake_resize_image`
    — the deterministic stand-in sharing the real PIL operator's
    schema, Arrow batch shape, and output-size profile): every payload
    resized to 8x4 = 32 bytes by tiling/truncating its content; empty
    payloads become 32 zero bytes. Output bytes are a pure function of
    input bytes, so DuckDB reproduces the payload itself (hex-rendered
    — both engines compare strings) via repeat+substr arithmetic —
    the mapInPandas plumbing, not just its metadata, is hash-checked.
    Map-only at any scale; output volume tracks target geometry, not
    input size (what makes a thumbnail pass cheap to shuffle
    downstream)."""
    from usgs_lidar_spark.multimodal import fake_resize_image, to_media_table

    d = _t(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text")
    return fake_resize_image(media, width=8, height=4).select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.hex("content").alias("content_hex"),
    )


@query(
    "mm_probe_dims",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 11 = 0 THEN CAST(-1 AS INTEGER)
                ELSE CAST(257 + doc_id % 96 AS INTEGER) END AS width,
           CASE WHEN doc_id % 11 = 0 THEN CAST(-1 AS INTEGER)
                ELSE CAST(257 + n_chars % 96 AS INTEGER) END AS height,
           CASE WHEN doc_id % 11 = 0 THEN CAST(-1 AS INTEGER)
                ELSE CAST(3 AS INTEGER) END AS channels
    FROM documents
    """,
)
def mm_probe_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only dimension probe (`multimodal/binary_ops.
    probe_image_dims` — the 100 TB first pass: a few dozen leading
    bytes per item inside an Arrow batch, no pixel decode) under a hard
    oracle: each document is wrapped in a REAL GIF87a header whose
    little-endian u16 dimensions encode (257 + doc_id % 96,
    257 + n_chars % 96) using only ASCII-range bytes (lo in 1..96,
    hi = 1 — byte-identical through both engines' UTF-8 encode), so
    the probe must actually PARSE the binary header to recover them;
    every 11th document keeps its raw text instead — an unrecognized
    payload — pinning the (-1, -1, -1) corrupt-input contract in the
    same pass. The oracle recomputes the dimensions arithmetically,
    independent of any byte plumbing."""
    from usgs_lidar_spark.multimodal import probe_image_dims, to_media_table

    d = _t(spark, sf_dir, "documents")
    gif = F.concat(
        F.lit("GIF87a"),
        F.expr("chr(1 + doc_id % 96)"), F.expr("chr(1)"),
        F.expr("chr(1 + n_chars % 96)"), F.expr("chr(1)"),
        F.lit("trailer-bytes"),
    )
    payload = F.when(F.col("doc_id") % 11 == 0, F.col("text")).otherwise(gif)
    media = to_media_table(d.withColumn("text", payload), "doc_id", "text")
    return probe_image_dims(media)


@query(
    "mm_dedup_media",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id, text FROM documents
        UNION ALL
        -- re-uploads: every 7th item appears again under a new id — the
        -- duplicate-groups case a content dedup must actually collapse.
        SELECT doc_id + 100000 AS media_id, text
        FROM documents WHERE doc_id % 7 = 0
    )
    SELECT min(media_id) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           md5(text) AS content_md5
    FROM m GROUP BY md5(text)
    """,
)
def mm_dedup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup over BINARY media payloads
    (multimodal/binary_ops.dedup_media_by_content): md5 each payload
    JVM-side, keep the lowest media_id per digest. The media table is
    documents' bytes plus a deterministic re-upload slice (every 7th
    payload appears again under media_id+100000),
    so the query collapses real duplicate groups — keeper = the
    original id, n_copies = 2. Only 16-byte digests + ids shuffle;
    payloads never move (the 100 TB media-dedup design). DuckDB's
    md5(VARCHAR) hashes the UTF-8 bytes — identical hex for the ASCII
    stand-in payloads."""
    from usgs_lidar_spark.multimodal import (
        dedup_media_by_content,
        to_media_table,
    )

    d = _t(spark, sf_dir, "documents")
    base = to_media_table(d, "doc_id", "text")
    reups = to_media_table(
        d.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100000
        ),
        "doc_id",
        "text",
    )
    return dedup_media_by_content(base.unionAll(reups))


@query(
    "mm_audio_quality_filter",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               list_transform(range(1, length(text) + 1),
                   i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)
                        - 128) AS s
        FROM documents
    ), win AS (
        SELECT media_id, s,
               unnest(range(0, len(s), 64)) AS k
        FROM m WHERE len(s) > 0
    ), r AS (
        SELECT media_id,
               sqrt(CAST(list_sum(list_transform(list_slice(s, k + 1, k + 64),
                                                 x -> x * x)) AS DOUBLE)
                    / len(list_slice(s, k + 1, k + 64))) AS rms
        FROM win
    ), agg AS (
        SELECT media_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN rms < 44.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_quiet,
               max(rms) AS max_rms,
               CAST(sum(CASE WHEN rms < 44.0 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS quiet_ratio
        FROM r GROUP BY media_id
    )
    SELECT media_id, n_windows, n_quiet, max_rms, quiet_ratio
    FROM agg WHERE quiet_ratio <= 0.5
    """,
)
def mm_audio_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio QUALITY-FILTER composition on top of the windowed-RMS
    feature pass (`mm_audio_rms` is the per-window feature table; this
    is the per-media decision): roll the windows up per media_id —
    window count, quiet-window count (rms < 44), max RMS — and KEEP
    only media whose quiet_ratio <= 0.5 (drop mostly-silent clips).
    The rollup shuffles one small row per window (media-keyed, partial
    aggregation applies); quiet_ratio is one int/int division and rms
    doubles are bit-exact (int64 sumsq + IEEE sqrt), so the filter
    decision — not just the features — hashes identically in both
    engines."""
    from usgs_lidar_spark.multimodal import audio_rms_windows, to_media_table

    d = _t(spark, sf_dir, "documents")
    w = audio_rms_windows(to_media_table(d, "doc_id", "text"), window=64)
    agg = w.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum((F.col("rms") < 44.0).cast("long")).alias("n_quiet"),
        F.max("rms").alias("max_rms"),
    )
    return agg.withColumn(
        "quiet_ratio", F.col("n_quiet") / F.col("n_windows")
    ).filter(F.col("quiet_ratio") <= 0.5)


# =====================================================================
# Exact point-in-polygon (SURVEY.md §2 F3) — bbox prefilter + pandas UDF
# =====================================================================

#: Convex CCW test polygon in (price, quantity*1000) space.
_PIP_POLYGON = [
    (10000.0, 5000.0),
    (90000.0, 3000.0),
    (100000.0, 30000.0),
    (50000.0, 48000.0),
    (15000.0, 40000.0),
]


def _pip_oracle() -> str:
    from usgs_lidar_spark.operators.spatial import convex_halfplane_sql, polygon_bbox

    minx, miny, maxx, maxy = polygon_bbox(_PIP_POLYGON)
    halfplanes = convex_halfplane_sql(
        _PIP_POLYGON, "l_extendedprice", "l_quantity * 1000.0"
    )
    return f"""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice AS px, l_quantity * 1000.0 AS py
    FROM lineitem
    WHERE l_extendedprice BETWEEN {minx!r} AND {maxx!r}
      AND l_quantity * 1000.0 BETWEEN {miny!r} AND {maxy!r}
      AND {halfplanes}
    """


@query("f3_point_in_polygon", oracle=None)
def f3_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: exact polygon crop — bbox prefilter (pushed to the scan) AND
    Arrow-batched ray-casting pandas UDF, the engine's plan for the
    reference's scan-time WKT crop (/root/reference/pipeline.json:4).
    The oracle is the convex-polygon half-plane test (pure arithmetic);
    the engine runs the general even-odd algorithm — agreeing on every
    non-boundary point."""
    from usgs_lidar_spark.operators.spatial import filter_within_polygon

    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("px"),
        (F.col("l_quantity") * 1000.0).alias("py"),
    )
    return filter_within_polygon(pts, _PIP_POLYGON, x_col="px", y_col="py")


ORACLE["f3_point_in_polygon"] = _pip_oracle()


# =====================================================================
# Terrain derivatives (SURVEY.md §2 Z1/Z2 — declared in the reference's
# README but never implemented there; defined here over the voxel grid)
# =====================================================================

#: 2D grid CTE shared by the Z1/Z2 oracles: price/quantity voxels with an
#: exact-decimal discount barycenter.
_GRID_CTE = """
    mins AS (SELECT min(l_extendedprice) AS mp, min(l_quantity) AS mq
             FROM lineitem),
    cells AS (
        SELECT CAST(floor((l_extendedprice - mp) / 5000.0) AS BIGINT) AS ix,
               CAST(floor((l_quantity - mq) / 5.0) AS BIGINT) AS iy,
               CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE)
                   / (100.0 * count(*)) AS cz
        FROM lineitem, mins GROUP BY 1, 2
    ),
    offs AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx) a,
                                 (SELECT unnest([-1, 0, 1]) AS dy) b),
    long AS (SELECT c.ix + o.dx AS tix, c.iy + o.dy AS tiy,
                    -o.dx AS dx, -o.dy AS dy, c.cz AS v
             FROM cells c, offs o),
    piv AS (
        SELECT tix AS ix, tiy AS iy,
               {pivots}
        FROM long GROUP BY 1, 2
    ),
    realc AS (SELECT * FROM piv WHERE v_00 IS NOT NULL)
"""


def _slot_name(dx: int, dy: int) -> str:
    return (
        "v_"
        + ("m" if dx < 0 else "p" if dx > 0 else "0")
        + ("m" if dy < 0 else "p" if dy > 0 else "0")
    )


def _grid_cte() -> str:
    pivots = ",\n               ".join(
        f"MAX(CASE WHEN dx = {dx} AND dy = {dy} THEN v END) AS {_slot_name(dx, dy)}"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    return _GRID_CTE.format(pivots=pivots)


def _idw_oracle() -> str:
    # Same float literals and addition order as operators/terrain.idw_regrid.
    num_terms, den_terms = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            s = _slot_name(dx, dy)
            w = 1.0 / (1.0 + dx * dx + dy * dy)
            num_terms.append(
                f"(CASE WHEN {s} IS NOT NULL THEN {s} * {w!r} ELSE 0.0 END)"
            )
            den_terms.append(
                f"(CASE WHEN {s} IS NOT NULL THEN {w!r} ELSE 0.0 END)"
            )
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
    WITH {_grid_cte()}
    SELECT ix, iy, (0.0 + {num}) / (0.0 + {den}) AS idw_value
    FROM realc
    """


def _twi_oracle() -> str:
    higher = " + ".join(
        f"(CASE WHEN {_slot_name(dx, dy)} > v_00 THEN 1 ELSE 0 END)"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    return f"""
    WITH {_grid_cte()}
    SELECT ix, iy,
           sqrt(((v_p0 - v_m0) / 2.0) * ((v_p0 - v_m0) / 2.0)
              + ((v_0p - v_0m) / 2.0) * ((v_0p - v_0m) / 2.0)) AS tan_beta,
           CAST(1 + ({higher}) AS DOUBLE) * 1.0 AS contrib,
           ln((CAST(1 + ({higher}) AS DOUBLE) * 1.0)
              / greatest(sqrt(((v_p0 - v_m0) / 2.0) * ((v_p0 - v_m0) / 2.0)
                            + ((v_0p - v_0m) / 2.0) * ((v_0p - v_0m) / 2.0)),
                         1e-06)) AS twi
    FROM realc
    WHERE v_m0 IS NOT NULL AND v_p0 IS NOT NULL
      AND v_0m IS NOT NULL AND v_0p IS NOT NULL
    """


def _price_qty_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    mins = li.agg(
        F.min("l_extendedprice").alias("mp"), F.min("l_quantity").alias("mq")
    )
    return (
        li.crossJoin(F.broadcast(mins))
        .groupBy(
            F.floor((F.col("l_extendedprice") - F.col("mp")) / 5000.0)
            .cast("long")
            .alias("ix"),
            F.floor((F.col("l_quantity") - F.col("mq")) / 5.0)
            .cast("long")
            .alias("iy"),
        )
        .agg(dec_avg("l_discount").alias("cz"))
    )


@query("z2_idw_regrid", oracle=None)
def z2_idw_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z2: IDW interpolation-to-grid (the reference's README.md:45-54
    promise) — 3x3 inverse-distance smoothing of the voxel barycenter
    grid via the neighbor-offer explode (no non-equi join; see
    operators/terrain.py)."""
    from usgs_lidar_spark.operators.terrain import idw_regrid

    return idw_regrid(_price_qty_grid(spark, sf_dir))


ORACLE["z2_idw_regrid"] = _idw_oracle()


@query("z1_twi_grid", oracle=None)
def z1_twi_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z1: Topographic Wetness Index ln(a / tan beta) (the reference's
    README.md:43-44 promise) — central-difference slope + one-hop
    contributing-area proxy over the voxel grid."""
    from usgs_lidar_spark.operators.terrain import twi_grid

    return twi_grid(_price_qty_grid(spark, sf_dir))


ORACLE["z1_twi_grid"] = _twi_oracle()


# =====================================================================
# Additional aggregation surface: vocabulary stats, ROLLUP, percentiles
# =====================================================================


@query(
    "text_vocab_by_lang",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents WHERE trim(text) <> ''
    )
    SELECT lang,
           count(DISTINCT doc_id) AS n_docs,
           count(DISTINCT token) AS vocab_size,
           count(*) AS total_tokens
    FROM tok GROUP BY lang
    """,
)
def text_vocab_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics per language tag: explode tokens -> exact
    distinct counts. (approx_count_distinct is the scale path but HLL
    sketches differ across engines, so the oracled form is exact.)"""
    from usgs_lidar_spark.functions.textstats import ws_tokens

    d = _t(spark, sf_dir, "documents")
    tok = (
        d.filter(F.trim("text") != "")
        .select("doc_id", "lang", F.explode(ws_tokens("text")).alias("token"))
    )
    return tok.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("token").alias("vocab_size"),
        F.count(F.lit(1)).alias("total_tokens"),
    )


@query(
    "g1_rollup_year_status",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_price
    FROM orders
    GROUP BY ROLLUP (order_year, o_orderstatus)
    """,
)
def g1_rollup_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP(year, status): per-status, per-year, and grand
    totals in one pass (grouping sets)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup(
        F.year("o_orderdate").alias("order_year"), F.col("o_orderstatus")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("total_price"),
    )


@query(
    "a5_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a5_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines implement the standard
    linear-interpolation quantile, so values match bit-for-bit on the
    quarter-step quantity column). percentile_approx is the 100 TB path;
    its sketch is engine-specific, so the oracled form is exact."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# =====================================================================
# Sketch path (rows-only): the 100 TB forms of distinct-count and
# quantiles. Sketch internals are engine-specific, so these get the
# driver's weaker rows-only check; their exact twins (text_vocab_by_lang,
# a5_percentiles) are fully oracled.
# =====================================================================


@query("sketch_approx_stats")
def sketch_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) + percentile_approx
    (KLL-style) per event type — constant-memory per group at any scale,
    which is what replaces the exact forms at 100 TB."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_median_value"),
        F.count(F.lit(1)).alias("n"),
    )


# =====================================================================
# Classic TPC-H-shaped analytics (the star-schema capability in its
# canonical form; all money math via exact scaled integers)
# =====================================================================


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                    * (100 + CAST(ROUND(l_tax * 100) AS BIGINT)))
                AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / (100.0 * count(*)) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the pricing summary report — one wide partial+final
    hash aggregate over the fact table, date predicate pushed to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    cents_price = F.round(F.col("l_extendedprice") * 100).cast("long")
    cents_disc = F.round(F.col("l_discount") * 100).cast("long")
    cents_tax = F.round(F.col("l_tax") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            (F.sum(cents_price * (F.lit(100) - cents_disc)) / F.lit(10000.0)).alias(
                "sum_disc_price"
            ),
            (
                F.sum(cents_price * (F.lit(100) - cents_disc) * (F.lit(100) + cents_tax))
                / F.lit(1000000.0)
            ).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> star join -> aggregate ->
    top-k (TakeOrderedAndProject; tie-broken deterministically)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            (F.sum(cents * (F.lit(100) - disc)) / F.lit(10000.0)).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way star join with a same-nation co-location
    predicate; dims broadcast, fact shuffles once."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(cents * (F.lit(100) - disc)) / F.lit(10000.0)).alias("revenue"))
    )


@query(
    "scalar_subquery_above_avg",
    oracle="""
    WITH g AS (
        SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / (100.0 * count(*)) AS avg_bal
        FROM customer
    )
    SELECT c_custkey, c_acctbal FROM customer, g
    WHERE c_acctbal > avg_bal
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery comparison (customers above the mean balance) — the
    1-row aggregate is broadcast, never collected; the mean is the exact
    integer-sum form so both engines compare against the same double."""
    c = _t(spark, sf_dir, "customer")
    g = c.agg(dec_avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(g))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal")
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(b.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
                   AS cos_sim
        FROM c a JOIN c b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.45; the synthetic embeddings max out at ~0.51 pairwise) — the semantic
    dedup flavor. Exact all-pairs here (oracle-checkable); the scale path
    buckets both sides with sign-LSH first (see similarity.cosine_topk_lsh)
    so only same-bucket pairs are compared."""
    from usgs_lidar_spark.functions.vectors import cosine

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine("__va", "__vb"), 4))
        .filter(F.col("cos_sim") >= 0.45)
        .select("id_a", "id_b", "cos_sim")
    )


@query(
    "correlated_above_nation_avg",
    oracle="""
    WITH nav AS (
        SELECT c_nationkey,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / (100.0 * count(*)) AS nation_avg
        FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, nav.nation_avg
    FROM customer c JOIN nav ON c.c_nationkey = nav.c_nationkey
    WHERE c.c_acctbal > nav.nation_avg
    """,
)
def correlated_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (customers above their own nation's mean
    balance) — decorrelated into a grouped aggregate + equi-join, the
    rewrite Catalyst itself applies to correlated scalar subqueries."""
    c = _t(spark, sf_dir, "customer")
    nav = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        dec_avg("c_acctbal").alias("nation_avg")
    )
    return (
        c.join(F.broadcast(nav), c.c_nationkey == F.col("nk"))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
    )


@query(
    "date_trunc_month_rollup",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
           o_orderpriority,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def date_trunc_month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar truncation (date_trunc to month) + grouped counts — the
    date-function surface beyond year()."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "order_month"
        ),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n_orders"))


