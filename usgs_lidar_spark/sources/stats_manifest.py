"""File-level stats manifest: metastore-less data skipping.

Parquet already row-group-skips WITHIN a file, but at 100 TB a table is
hundreds of thousands of files and the planner still has to open every
footer to learn that a file is irrelevant. Table formats (Delta,
Iceberg, Hudi) fix this by keeping per-file column min/max in a
manifest consulted BEFORE any data file is touched. This module is that
idea as a plain-parquet sidecar:

  * ``build_stats_manifest`` — collect per-file min/max for chosen
    columns. Footer reads are DISTRIBUTED: the file list becomes a
    DataFrame and each executor opens its files' footers with pyarrow
    (metadata only — no row data is read), so manifest construction is
    O(files/executors) wall-clock, not a driver loop.
  * ``write_stats_manifest`` / ``read_stats_manifest`` — the sidecar is
    itself a small parquet table under ``<table>/_stats_manifest``.
  * ``prune_files`` / ``read_with_skipping`` — intersect a conjunction
    of column ranges with the manifest and hand Spark ONLY the
    surviving files; normal scan-level pushdown (row-group skipping,
    column pruning) still applies inside them.

Skipping is sound for range/equality predicates on the manifested
columns: a file whose [min, max] does not intersect the requested range
cannot contain a matching row (NULLs: parquet stats exclude them, so a
file of all-NULL pages has null stats and is conservatively KEPT).
The layout writers (sort-within-partition by x/y, z-order) are what
make the manifest selective — sorted writes give files tight,
non-overlapping ranges.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_stats_manifest"

_MANIFEST_SCHEMA = (
    "file string, column string, min_value double, max_value double, "
    "null_count long, num_rows long"
)


def _list_parquet_files(spark: SparkSession, path: str) -> list[str]:
    """The table's data files as Spark lists them, through the path's
    own filesystem (Spark skips the underscore-prefixed sidecars)."""
    return sorted(spark.read.parquet(path).inputFiles())


def build_stats_manifest(
    spark: SparkSession, path: str, columns: Iterable[str]
) -> DataFrame:
    """Per-file (column, min, max, null_count, num_rows) — footers opened
    on EXECUTORS via mapInPandas over the file list (a metadata-only
    read; pyarrow never materializes row data), so a 100k-file table
    builds its manifest in one short distributed pass."""
    cols = list(columns)
    files = _list_parquet_files(spark, path)
    files_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, min(len(files), 64)))

    def scan_footers(batches) -> Iterator:
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fname in pdf["file"]:
                md = pq.ParquetFile(fname).metadata
                name_to_idx = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                for col in cols:
                    idx = name_to_idx.get(col)
                    if idx is None:
                        # column absent from this file's schema: emit a
                        # null-stats row so the file stays visible to
                        # pruning (and is conservatively kept).
                        rows.append((fname, col, None, None, 0, md.num_rows))
                        continue
                    mn = mx = None
                    nulls = 0
                    have_stats = True
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        if st is None or not st.has_min_max:
                            have_stats = False
                            continue
                        lo, hi = float(st.min), float(st.max)
                        mn = lo if mn is None else min(mn, lo)
                        mx = hi if mx is None else max(mx, hi)
                        nulls += st.null_count or 0
                    rows.append(
                        (
                            fname,
                            col,
                            mn if have_stats else None,
                            mx if have_stats else None,
                            nulls,
                            md.num_rows,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file",
                    "column",
                    "min_value",
                    "max_value",
                    "null_count",
                    "num_rows",
                ],
            )

    return files_df.mapInPandas(scan_footers, _MANIFEST_SCHEMA)


def write_stats_manifest(
    spark: SparkSession, path: str, columns: Iterable[str]
) -> str:
    """Build and persist the sidecar; returns the manifest path. One
    coalesced file — the manifest is rows-per-file x columns, tiny
    relative to the table, and a single object keeps the planner's
    manifest read to one request."""
    out = f"{path}/{MANIFEST_DIR}"
    build_stats_manifest(spark, path, columns).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def read_stats_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/{MANIFEST_DIR}")


def prune_files(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple[float | None, float | None]],
) -> list[str]:
    """Files that MAY satisfy every (lo, hi) range (None = unbounded).
    A file is dropped only when the manifest PROVES no intersection for
    some column; files with missing/NULL stats for a column are kept
    (conservative). The manifest frame is tiny — this filter runs as a
    small local job, never touching table data."""
    m = read_stats_manifest(spark, path)
    all_files = {r["file"] for r in m.select("file").distinct().collect()}
    dropped: set[str] = set()
    for col, (lo, hi) in ranges.items():
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col("max_value") < F.lit(float(lo)))
        if hi is not None:
            cond = cond | (F.col("min_value") > F.lit(float(hi)))
        bad = (
            m.filter(
                (F.col("column") == col)
                & F.col("min_value").isNotNull()
                & F.col("max_value").isNotNull()
                & cond
            )
            .select("file")
            .collect()
        )
        dropped.update(r["file"] for r in bad)
    return sorted(all_files - dropped)


def read_with_skipping(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple[float | None, float | None]],
) -> DataFrame:
    """Scan only the files the manifest cannot rule out, then re-apply
    the ranges as real predicates (skipping is a superset filter: a
    surviving file still holds non-matching rows, and scan-level
    pushdown prunes its row groups). Returns an empty frame with the
    table's schema when everything is pruned."""
    keep = prune_files(spark, path, ranges)
    if keep:
        # basePath anchors partition discovery: without it, reading an
        # explicit file list from a hive-partitioned table silently drops
        # the partition columns (and any filter on them would break).
        df = spark.read.option("basePath", path).parquet(*keep)
    else:
        df = spark.read.parquet(path).limit(0)
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
    return df


# ---------------------------------------------------------------------
# Per-file key Bloom filters: point-lookup skipping (equality predicates
# on high-cardinality keys that min/max ranges can't prune unless the
# data is sorted by that key). The Delta bloom-index idea as a plain
# parquet sidecar: one bitmap per (file, key column), built distributed,
# consulted on the driver before any data file is opened.
# ---------------------------------------------------------------------

BLOOM_DIR = "_bloom_manifest"


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    import math

    n = max(1, n)
    m = max(8, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_hashes(value: str, m: int, k: int) -> list[int]:
    """k positions via double hashing over the md5 of the value's UTF-8
    bytes — pure Python, no library dependencies, stable across runs."""
    import hashlib

    d = hashlib.md5(value.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def write_key_bloom_manifest(
    spark: SparkSession, path: str, key_col: str, fpp: float = 0.01
) -> str:
    """Build per-file Bloom bitmaps for ``key_col`` (one distributed
    pass: each executor reads ITS files' key column with pyarrow and
    sets bits locally; only (file, params, bitmap) rows move). Values
    are hashed by their string form, so any key type works as long as
    lookups use the same rendering."""
    files = _list_parquet_files(spark, path)
    files_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, min(len(files), 64)))

    def build(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fname in pdf["file"]:
                tbl = pq.read_table(fname, columns=[key_col])
                vals = [v for v in tbl.column(0).to_pylist() if v is not None]
                m, k = _bloom_params(len(vals), fpp)
                bits = 0
                for v in vals:
                    for pos in _bloom_hashes(str(v), m, k):
                        bits |= 1 << pos
                rows.append(
                    (
                        fname,
                        key_col,
                        int(m),
                        int(k),
                        int(len(vals)),
                        bits.to_bytes((m + 7) // 8, "big"),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["file", "column", "m", "k", "n_keys", "bitmap"]
            )

    out = f"{path}/{BLOOM_DIR}"
    files_df.mapInPandas(
        build, "file string, column string, m long, k long, n_keys long, bitmap binary"
    ).coalesce(1).write.mode("overwrite").parquet(out)
    return out


def prune_files_by_key(spark: SparkSession, path: str, key_col: str, value) -> list[str]:
    """Files that MAY contain ``key_col == value`` per their Bloom
    bitmaps (false positives possible — the reader re-applies the
    predicate; false negatives impossible). The manifest is tiny and
    membership checks run on the driver — no data file is touched."""
    m_df = spark.read.parquet(f"{path}/{BLOOM_DIR}").filter(
        F.col("column") == key_col
    )
    keep = []
    for r in m_df.collect():
        bits = int.from_bytes(bytes(r["bitmap"]), "big")
        if all(
            (bits >> p) & 1
            for p in _bloom_hashes(str(value), int(r["m"]), int(r["k"]))
        ):
            keep.append(r["file"])
    return sorted(keep)


def read_point_lookup(
    spark: SparkSession, path: str, key_col: str, value
) -> DataFrame:
    """Equality lookup through the Bloom sidecar: scan only candidate
    files, re-apply the predicate (bloom candidates are a superset)."""
    keep = prune_files_by_key(spark, path, key_col, value)
    if not keep:
        return spark.read.parquet(path).limit(0).filter(F.col(key_col) == value)
    # basePath keeps hive partition columns alive on explicit-file reads.
    return (
        spark.read.option("basePath", path)
        .parquet(*keep)
        .filter(F.col(key_col) == value)
    )
