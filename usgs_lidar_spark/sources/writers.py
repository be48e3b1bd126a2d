"""Sinks (SURVEY.md §2 K1-K2) and the storage layout that replaces the
EPT octree.

The reference's spatial index is the EPT octree walked by PDAL
(/root/reference/pipeline.json:3-9). The engine's equivalent
(SURVEY.md §4 row 1) is table LAYOUT:
  * hive-partition by (region, year) — partition pruning == the catalog
    pre-filter;
  * sort within partitions by (x, y) before writing — parquet row-group
    min/max stats on x/y become the octree's node bounds, so a bbox
    predicate skips row groups at scan time (verified in tests by
    PushedFilters + row-group pruning).
A z-order/hilbert curve would interleave x/y better for square queries;
linear (x, y) sort is the dependency-free approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from usgs_lidar_spark.schemas import POINTS


def write_points_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("region", "year"),
    sort_cols: tuple[str, ...] = ("x", "y"),
    mode: str = "overwrite",
    zorder: tuple[tuple[float, float], tuple[float, float]] | None = None,
) -> None:
    """Write the point table with the octree-analog layout.

    ``zorder=( (xmin,xmax), (ymin,ymax) )``: cluster by the Morton code of
    (x, y) instead of the linear sort — row groups then cover compact
    squares and bbox predicates prune in both axes (see
    functions/zorder.py). The ranges bound the quantization grid (pass the
    dataset's global bbox)."""
    staged = df.repartition(*[df[c] for c in partition_cols])
    if zorder is not None:
        from usgs_lidar_spark.functions.zorder import morton_key

        x_col, y_col = sort_cols[0], sort_cols[1]
        staged = staged.withColumn(
            "__zkey", morton_key(x_col, y_col, zorder[0], zorder[1])
        ).sortWithinPartitions("__zkey").drop("__zkey")
    else:
        staged = staged.sortWithinPartitions(*sort_cols)
    staged.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by its join
    key — the co-located-join layout.

    Two tables bucketed by the same key into the same bucket count join
    with ZERO Exchange on either side (verified by plan test): at 100 TB
    the recurring fact-to-fact join cost moves from every-query shuffles
    to a one-time write. Bucketing metadata lives in the session catalog
    (`saveAsTable`); pass ``path`` to keep the files external.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_catalog(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Single distributed write after the crawl — the reference rewrote its
    CSV once per crawled row (scripts/usgs_lidar.py:273, O(n^2)); here the
    catalog is small, so coalesce(1) gives one tidy file."""
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


def read_points(spark: SparkSession, path: str) -> DataFrame:
    """Scan the partitioned point table with the declared ``POINTS`` schema
    (no schema-inference job; the partition columns' values come from the
    directory layout, their types from the declaration). Columns come back
    data first, then ``region``, ``year``."""
    return spark.read.schema(POINTS).parquet(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    seed: int = 0,
    mode: str = "overwrite",
) -> None:
    """Materialize a corpus as shuffled training shards: deterministic
    pseudo-random order (operators/pipeline.global_shuffle), one hive
    partition per shard, rows inside each file stored in shard order —
    a trainer streams `shard=K` sequentially and sees the reproducible
    shuffled sequence with zero sorting at read time.

    Layout work is one shuffle keyed by shard + an in-partition sort by
    position; shards write in parallel and are independently re-readable
    (the `shard` column is the partition key, `shard_pos` survives as a
    data column for resume-from-position). Reruns with the same (corpus,
    seed) produce byte-identical shard membership and order at any
    cluster size.
    """
    from usgs_lidar_spark.operators.pipeline import global_shuffle

    shuffled = global_shuffle(df, id_col, n_shards, seed)
    (
        shuffled.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shard_pos")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def upsert_partitions(
    updates: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Partition-level upsert on plain parquet: replace exactly the hive
    partitions present in ``updates`` and leave every other partition's
    files untouched (Spark's dynamic partitionOverwriteMode, scoped to
    this one write so the session default is unaffected).

    This is the idiomatic "merge" for append-mostly analytical tables
    without a table format: corrections arrive for a few (region, year)
    slices, the job overwrites only those directories, and readers keep
    partition pruning + old files for all untouched slices. Contract:
    ``updates`` must carry FULL replacement partitions — this is
    replace-by-partition, not row-level merge (that needs a table format
    with a transaction log; out of scope for plain parquet by design).

    Scale: the write shuffles/writes only the updated partitions' rows;
    nothing is read or rewritten for the rest of the table, so cost is
    O(changed data), not O(table).
    """
    spark = updates.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            updates.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
