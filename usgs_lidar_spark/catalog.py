"""Table loading for the driver's synthetic star schema.

The reference builds its 1,594-row region catalog by a serial HTTP crawl and
keeps it as a CSV it re-reads per query (/root/reference/scripts/
usgs_lidar.py:245-276, 96). Here "catalog" is just parquet scans with
explicit post-read normalization; the distributed crawl equivalent lives in
sources/crawl.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from usgs_lidar_spark.schemas import DECLARED, TABLE_NAMES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing types.

    Every table of ``schemas.DECLARED`` (``"catalog"`` and all of
    ``TABLE_NAMES`` but ``events``) is read with its declared schema, so
    building the plan starts no schema-inference job.

    ``events`` keeps an inferring read: its ``ts`` is TIMESTAMP(NANOS) in
    some data generations and TIMESTAMP(MICROS) in others. Spark has no
    nanos type, so the session reads nanos as raw int64 (nanosAsLong) and
    we convert to TimestampNTZ at microsecond precision here. This is a
    metadata-only projection — it does not break column pruning or
    predicate pushdown on the other columns.
    """
    path = f"{sf_dir}/{name}.parquet"
    declared = DECLARED.get(name)
    if declared is not None:
        return spark.read.schema(declared).parquet(path)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer division, NOT `/1000` + cast: epoch nanos (~1.7e18) exceed
        # a double's 2^53 exact-integer range, so float division corrupts
        # the low microsecond digit (observed off-by-one vs DuckDB).
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all ten synthetic tables as a dict name -> DataFrame."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql() can reference it."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
