"""Streaming materialized view: a grouped rollup kept fresh by merging
each micro-batch's partial aggregate into a versioned stored state —
operators/rollup.py's algebra driven by foreachBatch.

Why not a plain streaming aggregation? `groupBy().agg()` on a stream
keeps its state in the state store and, in complete/update modes,
re-emits the whole (or changed) result per batch — fine for windowed
event-time aggs with watermark eviction, wrong for an UNWINDOWED
all-time rollup whose key space grows forever: that state can never be
evicted and lives inside the streaming query. This sink keeps the state
OUT of the stream as plain parquet anyone can read, merge cost
O(batch + rollup) per micro-batch.

Exactly-once: foreachBatch is at-least-once, so the store is a
`streaming/compact.py` store with a single live level — the merged
rollup — published by a version-named manifest that records the batch
id it covers. A batch the manifest already records is a replay whose
output would be byte-identical, so it is a no-op; any other batch
merges into the live level, writes the next version dir and publishes
it. A crash before the publish leaves an orphan version the retry
overwrites; no double counting, proven by the crash-restart test.

Scale: the merge is the rollup algebra's union+reduce (group-cardinality
sized state); the stream's own state store holds nothing but source
offsets. Driver-side file ops are manifest-sized.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from usgs_lidar_spark.operators.rollup import merge_rollup, rollup_state
from usgs_lidar_spark.streaming.compact import (
    _read_store_manifest,
    _write_store_manifest,
    level_dir,
    live_view,
    vacuum,
)


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """The current materialized rollup (manifest-pointed version)."""
    view = live_view(spark, path)
    if view is None:
        raise FileNotFoundError(f"no rollup published under {path}")
    return view


def rollup_writer(
    path: str,
    keys: list[str],
    measures: list[tuple[str, str]],
    digits: int = 2,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback maintaining the versioned rollup."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        m = _read_store_manifest(spark, path)
        if m is not None and m["max_batch_id"] >= batch_id:
            return  # replay of a published batch: same bytes, nothing to do
        merged = rollup_state(df, keys, measures, digits)
        stored = live_view(spark, path)
        if stored is not None:
            merged = merge_rollup(stored, merged, keys, measures)
        version = (m["version"] + 1) if m else 1
        vdir = f"v{version}"
        merged.write.mode("overwrite").parquet(level_dir(path, vdir))
        _write_store_manifest(
            spark,
            path,
            {
                "version": version,
                "levels": [{"dir": vdir, "max_batch_id": batch_id}],
                "max_batch_id": batch_id,
                "n_source_batches": version,
            },
        )
        vacuum(spark, path)  # the superseded version and manifest

    return write_batch


def run_streaming_rollup(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    measures: list[tuple[str, str]],
    digits: int = 2,
) -> None:
    """Drain available input (availableNow), maintaining the rollup
    exactly-once across restarts/replays."""
    q = (
        stream_df.writeStream.foreachBatch(
            rollup_writer(path, keys, measures, digits)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
