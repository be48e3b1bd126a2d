"""Explicit StructTypes for every table the engine processes.

The reference infers all schemas dynamically (pandas ``read_csv`` inference at
``/root/reference/scripts/usgs_lidar.py:96``; PDAL layout from the remote
``ept.json``). The engine declares them (SURVEY.md §1.6): explicit schemas are
the contract that lets Catalyst prune columns at the scan and skip schema
inference jobs on 100 TB inputs.

Reads that trust these declarations (no footer-inference job at plan
construction): ``sources.writers.read_points`` reads with ``POINTS``, and
``catalog.load_table`` reads every table of ``DECLARED`` with its entry —
``"catalog"`` and every ``TABLE_NAMES`` entry except ``events``. A file whose
columns differ from its declaration is read by name (missing columns come
back NULL), so ``tests/test_sources.py`` pins the testdata and the
benchmark's generated tables to these schemas name by name and type by type.
``events`` keeps its inferring read: its ``ts`` column is TIMESTAMP(NANOS) in
some data generations and TIMESTAMP(MICROS) in others (see
``EVENTS_RAW_TS_NANOS``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Reference-shaped tables (SURVEY.md §1.1-§1.2, FIXTURES.md §A) ---------

#: Point-cloud fact table. Mirrors the PDAL/EPT record stream
#: (/root/reference/pipeline.json:3-9) after projection
#: (/root/reference/scripts/usgs_lidar.py:169-177) plus the partition keys
#: the engine adds. Partitioned by (region, year) on disk; x/y min-max
#: row-group stats stand in for the EPT octree's spatial pruning.
POINTS = T.StructType(
    [
        T.StructField("region", T.StringType()),
        T.StructField("year", T.IntegerType()),  # nullable: undated surveys
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("classification", T.IntegerType()),  # LAS class; 7=noise
        T.StructField("intensity", T.IntegerType()),
    ]
)

#: Region-catalog dimension (schema of /root/reference/data/metadata.csv:1,
#: built at scripts/usgs_lidar.py:253-271). `points` reaches 1.7e11
#: (data/metadata.csv:229) so it must be 64-bit.
CATALOG = T.StructType(
    [
        T.StructField("filename", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
        T.StructField("points", T.LongType()),
    ]
)

# --- Driver synthetic star schema (/root/testdata, TESTDATA.md) -------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

#: Raw on-disk schema of events.parquet: in some data generations ts is INT64
#: TIMESTAMP(NANOS), which Spark reads as long under
#: spark.sql.legacy.parquet.nanosAsLong=true, and in others TIMESTAMP(MICROS).
#: catalog.load_table infers which and converts nanos to TimestampNTZ
#: (microsecond truncation); EVENTS is the normalized form.
EVENTS_RAW_TS_NANOS = True

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),  # JSON payload
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Tables ``catalog.load_table`` reads with their declared schema (no
#: inference job). ``events`` is absent: its on-disk ``ts`` type varies by
#: data generation, so its read infers.
DECLARED = {
    "catalog": CATALOG,
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
