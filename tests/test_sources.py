"""Sources & sinks: CSV null tokens, text/JSON readers, distributed crawl
with an injected fetcher, and the partitioned/sorted parquet layout."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from pyspark.sql import functions as F

from usgs_lidar_spark.sources.crawl import crawl_catalog
from usgs_lidar_spark.sources.readers import read_csv, read_json_config, read_text_lines
from usgs_lidar_spark.sources.writers import read_points, write_points_partitioned


def test_read_csv_null_tokens(spark, tmp_path):
    p = tmp_path / "cat.csv"
    p.write_text(
        "filename,year,points\n"
        "AK_Brooks_2012,2012,100\n"
        "IA_FullState,n/a,200\n"
        "XX_Thing,na,300\n"
        "YY_Thing,undefined,400\n"
    )
    df = read_csv(spark, str(p))
    rows = {r["filename"]: r for r in df.collect()}
    assert rows["AK_Brooks_2012"]["year"] == "2012" or rows["AK_Brooks_2012"]["year"] == 2012
    # All three reference null tokens become NULL (scripts/usgs_lidar.py:84).
    assert rows["IA_FullState"]["year"] is None
    assert rows["XX_Thing"]["year"] is None
    assert rows["YY_Thing"]["year"] is None


def test_read_text_and_json_config(spark, tmp_path):
    t = tmp_path / "filenames.txt"
    t.write_text("AK_Brooks_2012/\nIA_FullState/\n")
    df = read_text_lines(spark, str(t))
    assert df.count() == 2

    j = tmp_path / "pipeline.json"
    j.write_text(json.dumps({"pipeline": [{"type": "readers.ept"}]}))
    cfg = read_json_config(str(j))
    assert cfg["pipeline"][0]["type"] == "readers.ept"


def test_crawl_catalog_with_fake_fetcher(spark):
    """The distributed crawl parses EPT bounds exactly as the reference
    (bounds[0],[3],[1],[4] -> xmin,xmax,ymin,ymax; scripts/
    usgs_lidar.py:267-271), drops failed fetches, and extracts name/year."""

    def fake_fetcher(names: pd.Series) -> pd.DataFrame:
        rows = []
        for name in names:
            if name == "DEAD_Region_2010/":
                rows.append((name, 404, None))
            else:
                payload = json.dumps(
                    {"bounds": [1.0, 2.0, 0.0, 11.0, 12.0, 5.0], "points": 170_000_000_000}
                )
                rows.append((name, 200, payload))
        return pd.DataFrame(rows, columns=["filename", "status", "payload"])

    names = spark.createDataFrame(
        [("AK_Brooks_2012/",), ("IA_FullState/",), ("DEAD_Region_2010/",),
         ("FL_Elgin_2006-2008/",)],
        ["value"],
    )
    cat = crawl_catalog(names, fake_fetcher, partitions=2)
    rows = {r["filename"]: r.asDict() for r in cat.collect()}
    assert "DEAD_Region_2010" not in rows  # status guard
    ak = rows["AK_Brooks_2012"]
    assert (ak["xmin"], ak["xmax"], ak["ymin"], ak["ymax"]) == (1.0, 11.0, 2.0, 12.0)
    assert ak["points"] == 170_000_000_000  # > int32: must be 64-bit
    assert ak["year"] == 2012 and ak["region"] == "AK_Brooks"
    # The reference's pinned T1 case: 2006-2008 -> 2006 (data/metadata.csv:167)
    assert rows["FL_Elgin_2006-2008"]["year"] == 2006
    # Null year (IA_FullState, data/metadata.csv:229)
    assert rows["IA_FullState"]["year"] is None


def test_partitioned_write_layout(spark, tmp_path):
    """The octree-analog layout: hive partitions + x/y row-group stats."""
    pts = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, "REG_A").otherwise("REG_B").alias("region"),
        (F.lit(2012) + (F.col("id") % 3)).cast("int").alias("year"),
        (F.col("id") * 3.7 % 1000).alias("x"),
        (F.col("id") * 7.1 % 1000).alias("y"),
        (F.col("id") % 300 + 10.0).alias("z"),
        (F.col("id") % 19).cast("int").alias("classification"),
    )
    out = str(tmp_path / "points")
    write_points_partitioned(pts, out)

    back = read_points(spark, out)
    assert back.count() == 1000
    # Partition pruning: a region+year predicate must prune to one dir.
    pruned = back.filter((F.col("region") == "REG_A") & (F.col("year") == 2012))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.count() > 0  # pruning visible
    assert pruned.count() > 0
    # Layout on disk is hive-style region=/year= directories.
    import os

    dirs = {d for d in os.listdir(out) if d.startswith("region=")}
    assert dirs == {"region=REG_A", "region=REG_B"}


def test_morton_key_known_values(spark):
    from usgs_lidar_spark.functions.zorder import morton_key

    df = spark.createDataFrame(
        [(0.0, 0.0), (100.0, 100.0), (100.0, 0.0), (0.0, 100.0)], ["x", "y"]
    )
    keys = [
        r["k"]
        for r in df.select(
            morton_key("x", "y", (0.0, 100.0), (0.0, 100.0), bits=4).alias("k")
        ).collect()
    ]
    # corners of a 4-bit grid: (0,0)->0; (max,max)->all 8 bits set = 255;
    # x-only -> odd bit positions (0b10101010=170); y-only -> even (85).
    assert keys == [0, 255, 170, 85]


def test_zorder_write_prunes(spark, tmp_path):
    """Z-ordered layout: write succeeds, reads back identically, and
    produces multiple row groups with tight x/y stats."""
    from usgs_lidar_spark.functions.zorder import morton_key

    pts = spark.range(20000).select(
        F.lit("R").alias("region"),
        F.lit(2020).alias("year"),
        (F.col("id") * 37 % 1000).cast("double").alias("x"),
        (F.col("id") * 91 % 1000).cast("double").alias("y"),
        (F.col("id") % 100).cast("double").alias("z"),
    )
    out = str(tmp_path / "zpts")
    write_points_partitioned(
        pts, out, zorder=((0.0, 1000.0), (0.0, 1000.0))
    )
    back = read_points(spark, out)
    assert back.count() == 20000
    # spot-check content equality on an aggregate
    a = pts.agg(F.sum("x"), F.sum("y")).collect()[0]
    b = back.agg(F.sum("x"), F.sum("y")).collect()[0]
    assert a == b


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed by the join key into the same bucket count must
    join with no Exchange on either side, and produce the same rows as the
    plain shuffled join — the co-located layout write_bucketed promises."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.sources.writers import write_bucketed
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    try:
        write_bucketed(
            li, "t_li_bucketed", ("l_orderkey",), n_buckets=8,
            sort_cols=("l_orderkey",), path=str(tmp_path / "li"),
        )
        write_bucketed(
            orders, "t_ord_bucketed", ("o_orderkey",), n_buckets=8,
            sort_cols=("o_orderkey",), path=str(tmp_path / "ord"),
        )
        bl = spark.table("t_li_bucketed")
        bo = spark.table("t_ord_bucketed")
        # hint("merge"): at sf0.001 the dim side is broadcastable, which
        # would sidestep the layout under test; a real fact-to-fact join
        # is SMJ, and THAT is what bucketing de-shuffles.
        joined = bl.hint("merge").join(bo, bl["l_orderkey"] == bo["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_fetch_with_retry_logic():
    """Retry policy without a network: transient failures (exceptions,
    5xx, 429) back off and retry; hard statuses (404) return immediately;
    retries are bounded and the final failure is returned, not raised."""
    from usgs_lidar_spark.sources.crawl import fetch_with_retry

    sleeps: list[float] = []

    def make(responses):
        it = iter(responses)

        def request(url):
            r = next(it)
            if r == "boom":
                raise OSError("connection reset")
            return r

        return request

    # fails twice (exception, 503) then succeeds; backoff doubles
    status, payload = fetch_with_retry(
        make(["boom", (503, None), (200, "ok")]), "u", sleep=sleeps.append
    )
    assert (status, payload) == (200, "ok") and sleeps == [0.5, 1.0]

    # hard 404: no retries at all
    sleeps.clear()
    status, _ = fetch_with_retry(make([(404, None)]), "u", sleep=sleeps.append)
    assert status == 404 and sleeps == []

    # permanent exception: bounded attempts, -1 returned
    sleeps.clear()
    status, payload = fetch_with_retry(
        make(["boom"] * 4), "u", sleep=sleeps.append
    )
    assert (status, payload) == (-1, None) and len(sleeps) == 3


def test_write_training_shards_layout_and_order(spark, tmp_path):
    """Training-shard sink: one hive partition per shard, rows stored in
    shard order inside each file (verified WITHOUT re-sorting at read),
    membership identical to global_shuffle, reruns byte-stable."""
    from usgs_lidar_spark.operators.pipeline import global_shuffle
    from usgs_lidar_spark.sources.writers import write_training_shards

    df = spark.range(300).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, "doc_id", n_shards=4)

    shard_dirs = sorted(
        p.name for p in (tmp_path / "shards").iterdir()
        if p.name.startswith("shard=")
    )
    assert shard_dirs == [f"shard={i}" for i in range(4)]

    back = spark.read.parquet(out)
    expect = {
        (r["doc_id"], r["shard"], r["shard_pos"])
        for r in global_shuffle(df, "doc_id", 4).collect()
    }
    got = {
        (r["doc_id"], r["shard"], r["shard_pos"]) for r in back.collect()
    }
    assert got == expect

    # In-file order IS shard order: read one shard dir file-by-file in
    # pandas (no Spark sort involved) and check positions ascend.
    import pyarrow.parquet as pq

    for d in (tmp_path / "shards").glob("shard=*"):
        rows = []
        for f in sorted(d.glob("*.parquet")):
            rows.extend(pq.read_table(f).to_pandas()["shard_pos"])
        assert rows == sorted(rows) and rows[0] == 1


def test_upsert_partitions_replaces_only_touched_partitions(spark, tmp_path):
    """Dynamic-partition upsert: partitions present in the update batch are
    replaced wholesale; untouched partitions keep their original FILES
    (not just their rows) — proving the write never rewrote them."""
    import os

    from pyspark.sql import functions as F

    from usgs_lidar_spark.sources.writers import upsert_partitions

    path = str(tmp_path / "upsert_table")
    base = spark.createDataFrame(
        [(1, "r1", 10.0), (2, "r1", 11.0), (3, "r2", 20.0), (4, "r3", 30.0)],
        "id long, region string, v double",
    )
    base.write.partitionBy("region").parquet(path)
    r3_files_before = set(os.listdir(f"{path}/region=r3"))

    # Replacement slice for r1 (fewer rows than before — proves replace,
    # not append) and a brand-new partition r4.
    updates = spark.createDataFrame(
        [(9, "r1", 99.0), (5, "r4", 40.0)], "id long, region string, v double"
    )
    upsert_partitions(updates, path, ["region"])

    got = {
        (r["id"], r["region"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (9, "r1", 99.0),   # replaced
        (3, "r2", 20.0),   # untouched
        (4, "r3", 30.0),   # untouched
        (5, "r4", 40.0),   # added
    }
    # r3's physical files are bit-for-bit the ones from the base write.
    assert set(os.listdir(f"{path}/region=r3")) == r3_files_before
    # session default restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"
    )


def test_quarantine_readers_split_good_from_malformed(spark, tmp_path):
    from pyspark.sql import types as T

    from usgs_lidar_spark.sources.readers import (
        read_csv_quarantine,
        read_json_data_quarantine,
    )

    jpath = tmp_path / "feed.jsonl"
    jpath.write_text(
        '{"id": 1, "v": "ok"}\n'
        "{this is not json}\n"
        '{"id": 2, "v": "also ok"}\n'
        '{"id": "notanint", "v": "bad type"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    good, bad = read_json_data_quarantine(spark, str(jpath), schema)
    assert {(r["id"], r["v"]) for r in good.collect()} == {
        (1, "ok"), (2, "also ok")
    }
    assert good.columns == ["id", "v"]
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 2 and "{this is not json}" in bad_lines

    cpath = tmp_path / "feed.csv"
    cpath.write_text(
        "id,v\n"
        "1,ok\n"
        "zz,badint\n"       # id not a long -> quarantined
        "2,n/a\n"           # null token -> good row, NULL v
    )
    cschema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    cgood, cbad = read_csv_quarantine(spark, str(cpath), cschema)
    assert {(r["id"], r["v"]) for r in cgood.collect()} == {(1, "ok"), (2, None)}
    assert [r["raw_line"] for r in cbad.collect()] == ["zz,badint"]


def test_stats_manifest_prunes_files_and_preserves_results(spark, tmp_path):
    """A range predicate on the sorted column reads strictly fewer files
    via the manifest, returns exactly the rows of a full-scan filter,
    and an impossible range prunes everything (empty frame, same
    schema)."""
    from usgs_lidar_spark.sources.stats_manifest import (
        prune_files,
        read_with_skipping,
        write_stats_manifest,
    )

    path = str(tmp_path / "pts")
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 100).cast("double").alias("x")
    )
    # range-partition by x so each file owns a tight x slice
    df.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(path)
    write_stats_manifest(spark, path, ["x"])

    all_files = prune_files(spark, path, {})
    kept = prune_files(spark, path, {"x": (10.0, 15.0)})
    assert len(all_files) == 8
    assert 0 < len(kept) < len(all_files)

    got = read_with_skipping(spark, path, {"x": (10.0, 15.0)})
    expected = spark.read.parquet(path).filter("x >= 10.0 and x <= 15.0")
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in expected.collect()
    )
    # pruning is visible at the scan: strictly fewer input files
    assert 0 < len(got.inputFiles()) < len(
        spark.read.parquet(path).inputFiles()
    )

    nothing = read_with_skipping(spark, path, {"x": (1000.0, 2000.0)})
    assert nothing.count() == 0
    assert nothing.schema == expected.schema


def test_stats_manifest_conservative_on_missing_stats(spark, tmp_path):
    """A column absent from a file's schema (or stats-less) never causes
    that file to be dropped."""
    from usgs_lidar_spark.sources.stats_manifest import (
        prune_files,
        write_stats_manifest,
    )

    path = str(tmp_path / "mixed")
    spark.range(0, 10).select(
        F.col("id"), F.col("id").cast("double").alias("x")
    ).coalesce(1).write.parquet(path)
    spark.range(10, 20).select(F.col("id")).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    write_stats_manifest(spark, path, ["x"])
    kept = prune_files(spark, path, {"x": (100.0, 200.0)})
    # the x-bearing file is provably out of range; the x-less file stays
    assert len(kept) == 1


def test_bloom_manifest_point_lookup(spark, tmp_path):
    """Point lookups through the Bloom sidecar: the key's home file is
    always a candidate (no false negatives), most other files are
    pruned at 1% fpp, and the lookup result equals the full-scan
    filter. An absent key prunes everything (empty result, same
    schema)."""
    from usgs_lidar_spark.sources.stats_manifest import (
        prune_files_by_key,
        read_point_lookup,
        write_key_bloom_manifest,
    )

    path = str(tmp_path / "tbl")
    # 16 files, ids hash-scattered (NOT sorted: min/max ranges would
    # overlap totally — exactly the case blooms exist for)
    spark.range(0, 16_000).selectExpr(
        "id", "CAST(id % 101 AS DOUBLE) AS v"
    ).repartition(16).write.parquet(path)
    write_key_bloom_manifest(spark, path, "id", fpp=0.01)

    hits = 0
    for key in [7, 4242, 15999]:
        cand = prune_files_by_key(spark, path, "id", key)
        assert 1 <= len(cand) <= 4  # >=1 (no false negatives), few FPs
        hits += len(cand)
        got = read_point_lookup(spark, path, "id", key).collect()
        assert [r["id"] for r in got] == [key]
    assert hits <= 6  # 48 candidate checks, 1% fpp -> ~3 expected

    missing = read_point_lookup(spark, path, "id", 999_999)
    assert missing.count() == 0
    assert missing.schema == spark.read.parquet(path).schema


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC write/read roundtrips values and pushes predicates into the
    scan (the parquet contract transfers to ORC's stripe indexes)."""
    from usgs_lidar_spark.sources.readers import read_orc, write_orc

    p = str(tmp_path / "pts_orc")
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS c")
    write_orc(df.sortWithinPartitions("id"), p)
    back = read_orc(spark, p)
    assert back.count() == 1000
    q = back.filter("c = 3")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "c" in plan
    assert sorted(r["id"] for r in q.collect()) == [
        i for i in range(1000) if i % 7 == 3
    ]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """A column added by a later writer surfaces via mergeSchema with
    NULLs for old files — the append-only evolution a long-lived 100 TB
    table lives through."""
    p = str(tmp_path / "evolve")
    spark.range(0, 10).selectExpr("id").write.parquet(f"{p}/part=a")
    spark.range(10, 20).selectExpr("id", "id * 2 AS extra").write.parquet(
        f"{p}/part=b"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) >= {"id", "extra"}
    rows = {r["id"]: r["extra"] for r in merged.collect()}
    assert rows[5] is None and rows[15] == 30


def _write_catalog_fixture(tmp_path):
    import json as _json

    cat = tmp_path / "catalog"
    cat.mkdir()
    rows = [
        dict(region="IA_FullState", year=2010, n_points=401577,
             minx=-96.6, miny=40.4, maxx=-90.1, maxy=43.5),
        dict(region="CO_Denver", year=2015, n_points=250000,
             minx=-105.1, miny=39.6, maxx=-104.9, maxy=39.9),
        dict(region="WA_Seattle", year=None, n_points=99000,
             minx=-122.5, miny=47.5, maxx=-122.2, maxy=47.7),
    ]
    for r in rows:
        (cat / f"{r['region']}.json").write_text(_json.dumps(r))
    return str(cat), rows


def test_python_datasource_catalog_reads_and_schema(spark, tmp_path):
    """The lidar_catalog Python DataSource serves the shard directory as
    a typed table: full scan returns every region with the declared
    schema (None year surfaces as NULL int)."""
    from usgs_lidar_spark.sources import pydatasource

    path, rows = _write_catalog_fixture(tmp_path)
    pydatasource.register(spark)
    df = spark.read.format("lidar_catalog").option("path", path).load()
    got = {r["region"]: r for r in df.collect()}
    assert set(got) == {x["region"] for x in rows}
    assert got["IA_FullState"]["n_points"] == 401577
    assert got["WA_Seattle"]["year"] is None
    assert dict(df.dtypes)["n_points"] == "bigint"


def test_python_datasource_filter_pushdown_prunes_files(spark, tmp_path):
    """EqualTo/In filters on region prune whole files inside the source
    (verified on the reader directly), and the end-to-end filtered query
    returns exactly the matching rows."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In
    from usgs_lidar_spark.sources import pydatasource
    from usgs_lidar_spark.sources.pydatasource import CatalogReader

    path, _rows = _write_catalog_fixture(tmp_path)

    r = CatalogReader({"path": path, "numPartitions": "4"})
    leftover = list(
        r.pushFilters([EqualTo(("region",), "CO_Denver"),
                       GreaterThan(("n_points",), 1)])
    )
    # the region filter is consumed; the numeric one is handed back
    assert [type(f).__name__ for f in leftover] == ["GreaterThan"]
    parts = r.partitions()
    assert sum(len(p.files) for p in parts) == 1  # one file survives

    r2 = CatalogReader({"path": path})
    assert list(r2.pushFilters([In(("region",), ("CO_Denver", "WA_Seattle"))])) == []
    assert sum(len(p.files) for p in r2.partitions()) == 2

    # Two pushed region predicates AND together: consumed sets must
    # INTERSECT (last-wins would wrongly resurrect CO_Denver here).
    r3 = CatalogReader({"path": path})
    assert list(r3.pushFilters([
        In(("region",), ("CO_Denver", "WA_Seattle")),
        In(("region",), ("WA_Seattle", "IA_FullState")),
    ])) == []
    files3 = [f for p in r3.partitions() for f in p.files]
    assert len(files3) == 1 and files3[0].endswith("WA_Seattle.json")
    # Contradictory EqualTo + In -> empty intersection -> zero files.
    r4 = CatalogReader({"path": path})
    assert list(r4.pushFilters([
        EqualTo(("region",), "CO_Denver"),
        In(("region",), ("WA_Seattle",)),
    ])) == []
    assert r4.partitions() == [] or all(not p.files for p in r4.partitions())

    pydatasource.register(spark)
    df = (
        spark.read.format("lidar_catalog").option("path", path).load()
        .filter("region = 'CO_Denver' AND n_points > 1")
    )
    assert [r["year"] for r in df.collect()] == [2015]


def test_python_datasource_streaming_tail(spark, tmp_path):
    """The streaming side of the catalog source: an availableNow pass
    serves existing shards; dropping a NEW shard and running again
    delivers exactly the new region (offset = served-file set), through
    the same checkpoint."""
    import json as _json
    from usgs_lidar_spark.sources import pydatasource

    path, rows = _write_catalog_fixture(tmp_path)
    pydatasource.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_pass():
        q = (
            spark.readStream.format("lidar_catalog").option("path", path).load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_pass()
    got1 = {r["region"] for r in spark.read.parquet(out).collect()}
    assert got1 == {x["region"] for x in rows}

    (tmp_path / "catalog" / "TX_Austin.json").write_text(
        _json.dumps(dict(region="TX_Austin", year=2020, n_points=5,
                         minx=0.0, miny=0.0, maxx=1.0, maxy=1.0))
    )
    run_pass()
    got2 = spark.read.parquet(out).collect()
    assert len(got2) == len(rows) + 1  # no duplicates of the old shards
    assert {r["region"] for r in got2} == got1 | {"TX_Austin"}


def test_python_datasource_writer_roundtrip(spark, tmp_path):
    """The write path: a DataFrame saved with format('lidar_catalog')
    lands as one JSON shard per region via tmp-file + rename two-phase
    commit, and reads back identically through the same format."""
    from usgs_lidar_spark.sources import pydatasource

    path = str(tmp_path / "cat_out")
    pydatasource.register(spark)
    df = spark.createDataFrame(
        [("AA_One", 2001, 10, 0.0, 0.0, 1.0, 1.0),
         ("BB_Two", 2002, 20, 1.0, 1.0, 2.0, 2.0)],
        "region string, year int, n_points bigint, "
        "minx double, miny double, maxx double, maxy double",
    )
    df.write.format("lidar_catalog").option("path", path).mode("append").save()
    import os as _os

    names = sorted(f for f in _os.listdir(path) if f.endswith(".json"))
    assert names == ["AA_One.json", "BB_Two.json"]
    assert not any(f.endswith(".tmp") for f in _os.listdir(path))

    back = spark.read.format("lidar_catalog").option("path", path).load()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_python_datasource_stream_writer_end_to_end(spark, tmp_path):
    """Full circle through the Python DataSource: a stream of catalog
    rows written with format('lidar_catalog') lands as committed JSON
    shards (no temporaries), readable back through the batch reader."""
    from usgs_lidar_spark.sources import pydatasource

    pydatasource.register(spark)
    src = tmp_path / "rows_in"
    src.mkdir()
    spark.createDataFrame(
        [("NM_One", 2021, 7, 0.0, 0.0, 1.0, 1.0),
         ("NV_Two", 2022, 8, 1.0, 1.0, 2.0, 2.0)],
        "region string, year int, n_points bigint, "
        "minx double, miny double, maxx double, maxy double",
    ).coalesce(1).write.parquet(str(src / "batch0"))

    out = str(tmp_path / "cat_stream_out")
    stream = spark.readStream.schema(
        "region string, year int, n_points bigint, "
        "minx double, miny double, maxx double, maxy double"
    ).parquet(str(src / "batch0"))
    q = (
        stream.writeStream.format("lidar_catalog")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os as _os

    names = sorted(f for f in _os.listdir(out) if not f.startswith("."))
    assert names == ["NM_One.json", "NV_Two.json"]
    assert not any(f.endswith(".tmp") for f in _os.listdir(out))
    back = spark.read.format("lidar_catalog").option("path", out).load()
    assert back.count() == 2


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_testdata_matches_declared_schemas(spark):
    """The declared-schema reads trust each file to carry exactly its
    declaration: every testdata generation's tables, read with inference,
    have the declared names, types and order (a mismatch would read
    by name and silently NULL a missing column). ``events`` is checked in
    its normalized, loaded form."""
    import glob
    import os

    from tests.conftest import SF_SMALL
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.schemas import DECLARED, EVENTS, TABLE_NAMES

    sf_dirs = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))
    assert sf_dirs
    for sf in sf_dirs:
        for name in TABLE_NAMES:
            if name == "events":
                got = load_table(spark, sf, name).schema
                assert _fields(got) == _fields(EVENTS), sf
                continue
            got = spark.read.parquet(f"{sf}/{name}.parquet").schema
            assert _fields(got) == _fields(DECLARED[name]), (sf, name)


def test_benchmark_tables_match_declared_schemas(spark, tmp_path):
    """The benchmark generator's point, catalog, documents, embeddings
    and lineitem tables, as Spark infers them, match POINTS, CATALOG,
    DOCUMENTS, EMBEDDINGS and LINEITEM; the partitioned point layout
    reads back through `read_points` exactly as inference would."""
    import numpy as np

    from perfbench import datagen
    from usgs_lidar_spark.schemas import CATALOG, DOCUMENTS, EMBEDDINGS, LINEITEM, POINTS

    rng = np.random.default_rng(0)
    regions = datagen.lidar_regions(1, 2_000, 500)
    tables = {
        "points": (datagen.point_table(rng, regions), POINTS),
        "catalog": (datagen.catalog_table(regions), CATALOG),
        "documents": (datagen.documents_table(rng, 50), DOCUMENTS),
        "embeddings": (datagen.embeddings_table(rng, 20), EMBEDDINGS),
        "lineitem": (datagen.lineitem_table(rng, 200), LINEITEM),
    }
    for name, (table, declared) in tables.items():
        path = datagen.write_table(table, str(tmp_path), name)
        assert _fields(spark.read.parquet(path).schema) == _fields(declared), name
    layout = str(tmp_path / "layout")
    write_points_partitioned(spark.read.parquet(str(tmp_path / "points.parquet")), layout)
    inferred = spark.read.parquet(layout)
    declared = read_points(spark, layout)
    assert _fields(declared.schema) == _fields(inferred.schema)
    assert sorted(declared.collect()) == sorted(inferred.collect())


def test_events_nanos_timestamps_load_as_ntz(spark, tmp_path):
    """A data generation whose ``events.ts`` is parquet TIMESTAMP(NANOS)
    still loads through ``load_table``: read as raw int64 nanos, converted
    to TimestampNTZ truncated to the microsecond by integer division."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.schemas import EVENTS

    nanos = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999, 1_500]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
                "user_id": pa.array([7, 8, 9], pa.int64()),
                "event_type": ["view", "click", "buy"],
                "value": [1.5, 2.5, 3.5],
                "props": ["{}", "{}", "{}"],
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == pa.timestamp("ns")
    ev = load_table(spark, str(tmp_path), "events")
    assert _fields(ev.schema) == _fields(EVENTS)
    epoch = dt.datetime(1970, 1, 1)
    want = [epoch + dt.timedelta(microseconds=n // 1000) for n in nanos]
    got = [r["ts"] for r in ev.orderBy("event_id").collect()]
    assert got == want
