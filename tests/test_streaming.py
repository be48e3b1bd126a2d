"""Structured Streaming: availableNow replay of the events parquet must
equal the batch query (batch-equivalence is the defined semantics,
SURVEY.md §7)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from usgs_lidar_spark.plans.queries import QUERIES
from usgs_lidar_spark.streaming.events import (
    read_events_stream,
    run_available_now,
    tumbling_counts,
)
from tests.conftest import SF_SMALL
from tests.parity import canonical_rows

#: Versioned-store tests run on a plain path and on a ``file://`` URI —
#: the URI takes the same driver-IO path as any hdfs:// or s3a:// root.
STORE_ROOTS = pytest.mark.parametrize(
    "as_root", [str, Path.as_uri], ids=["path", "uri"]
)


def test_streaming_tumbling_equals_batch(spark, tmp_path):
    # readStream needs a directory source; stage the single parquet file.
    events_dir = tmp_path / "events_stream"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", events_dir / "part-0.parquet")

    stream = read_events_stream(spark, str(events_dir))
    assert stream.isStreaming
    result = run_available_now(tumbling_counts(stream), "t_tumbling")

    batch = QUERIES["r1_tumbling_window"](spark, SF_SMALL)
    s_cols, s_rows = canonical_rows(result.toPandas())
    b_cols, b_rows = canonical_rows(batch.toPandas())
    assert s_cols == b_cols
    assert s_rows == b_rows


def test_streaming_session_window_runs(spark, tmp_path):
    """Session windows under watermark in streaming mode (availableNow):
    row counts must match the batch session query's session count."""
    import shutil
    from usgs_lidar_spark.streaming.events import session_counts

    events_dir = tmp_path / "events_stream2"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", events_dir / "part-0.parquet")
    stream = read_events_stream(spark, str(events_dir))
    result = run_available_now(session_counts(stream), "t_sessions")
    batch_sessions = QUERIES["r1_session_window"](spark, SF_SMALL).count()
    assert result.count() == batch_sessions


def test_stateful_tracker_matches_batch(spark, tmp_path):
    """applyInPandasWithState per-user totals after one availableNow pass
    must equal the batch groupBy (exact cents arithmetic both sides)."""
    import shutil
    from pyspark.sql import functions as F
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.streaming.stateful import track_user_activity

    events_dir = tmp_path / "events_stream3"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", events_dir / "part-0.parquet")
    stream = read_events_stream(spark, str(events_dir))

    q = (
        track_user_activity(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], r["value_sum"])
        for r in spark.sql("SELECT * FROM t_stateful").collect()
    }

    batch = load_table(spark, SF_SMALL, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("s"),
    )
    want = {r["user_id"]: (r["n"], r["s"]) for r in batch.collect()}
    assert got == want


def test_streaming_late_data_dropped_by_watermark(spark, tmp_path):
    """Watermark EVICTION semantics, not just availableNow == batch: a row
    arriving in a later micro-batch with event time below the watermark
    must be dropped from the aggregation state, and the already-finalized
    window must not change.

    Three parquet files replayed as three micro-batches (maxFilesPerTrigger=1,
    mtime-ordered). Spark's watermark contract is that a drop is GUARANTEED
    only once the window's state has been evicted — a late row landing in
    the same micro-batch that advances the watermark past its window is
    still merged (update runs before eviction). So: file A advances the
    watermark to 11:00 - 30min = 10:30; batch 2 (file B) runs with that
    watermark and EVICTS + emits the sub-10:30 windows; batch 3 (file C)
    then delivers a 10:06 event — 24 minutes below the watermark, window
    already evicted. Assertions: (a) the engine's own
    numRowsDroppedByWatermark counter records exactly that drop; (b) the
    finalized [10:00,10:10) window keeps the file-A-only count while a
    batch query over ALL files counts the late row — proving the stream
    genuinely dropped late data rather than the data never existing."""
    import json
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from usgs_lidar_spark.streaming.events import EVENTS_RAW_SCHEMA

    def nanos(s: str) -> int:
        return int(pd.Timestamp(s).value)

    def write(path, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).to_parquet(path, index=False)

    events_dir = tmp_path / "late_events"
    events_dir.mkdir()
    # File A (micro-batch 1): one event in [10:00,10:10), one in
    # [10:10,10:20), and one at 11:00 that pushes the watermark to 10:30.
    write(
        events_dir / "a.parquet",
        [
            (1, nanos("2024-01-01 10:05:00"), 1, "click", 1.0, "{}"),
            (2, nanos("2024-01-01 10:15:00"), 1, "click", 1.0, "{}"),
            (3, nanos("2024-01-01 11:00:00"), 1, "click", 1.0, "{}"),
        ],
    )
    # File B (micro-batch 2): an on-time event. This batch runs with
    # watermark 10:30, so both sub-10:30 windows are evicted from state and
    # emitted to the append-mode sink here.
    write(
        events_dir / "b.parquet",
        [(4, nanos("2024-01-01 11:05:00"), 1, "click", 1.0, "{}")],
    )
    # File C (micro-batch 3): a LATE event at 10:06 — below the watermark
    # AND its window's state is already evicted → guaranteed drop.
    write(
        events_dir / "c.parquet",
        [(5, nanos("2024-01-01 10:06:00"), 1, "click", 1.0, "{}")],
    )
    now = os.path.getmtime(events_dir / "c.parquet")
    os.utime(events_dir / "a.parquet", (now - 200, now - 200))  # A strictly first
    os.utime(events_dir / "b.parquet", (now - 100, now - 100))  # then B

    stream = read_events_stream(spark, str(events_dir), max_files_per_trigger=1)
    q = (
        tumbling_counts(stream)  # 10-minute windows, 30-minute watermark
        .writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")  # emits a window only once it finalizes
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    progresses = [
        json.loads(p.json) if hasattr(p, "json") else json.loads(p)
        for p in q.recentProgress
    ]
    assert len(progresses) >= 3, "expected one micro-batch per file"
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for so in p.get("stateOperators", [])
    )
    assert dropped == 1, progresses

    finalized = {
        r["win_start"]: r["n_events"]
        for r in spark.sql("SELECT * FROM t_late").collect()
    }
    # The late row did NOT resurrect or amend the finalized 10:00 window...
    assert finalized["2024-01-01 10:00:00"] == 1
    assert finalized["2024-01-01 10:10:00"] == 1
    # ...even though a batch query over the same directory sees 2 rows there
    # (the late event exists in the data; only the STREAM dropped it).
    batch = (
        spark.read.schema(EVENTS_RAW_SCHEMA)
        .parquet(str(events_dir))
        .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .count()
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("s"), "count")
    )
    batch_counts = {r["s"]: r["count"] for r in batch.collect()}
    assert batch_counts["2024-01-01 10:00:00"] == 2


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """At-least-once delivery: the same event_id delivered in two
    micro-batches within the watermark must reach the sink exactly once,
    while distinct events all pass. State is watermark-bounded (the
    numRowsTotal counter shrinks after the watermark passes old ids)."""
    import json
    import os

    import pandas as pd

    from usgs_lidar_spark.streaming.events import dedup_events_stream

    def nanos(s: str) -> int:
        return int(pd.Timestamp(s).value)

    def write(path, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).to_parquet(path, index=False)

    events_dir = tmp_path / "dup_events"
    events_dir.mkdir()
    write(
        events_dir / "a.parquet",
        [
            (1, nanos("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),
            (2, nanos("2024-01-01 10:01:00"), 1, "click", 1.0, "{}"),
        ],
    )
    # Batch 2: event 1 redelivered (same id, same ts) plus a fresh event.
    write(
        events_dir / "b.parquet",
        [
            (1, nanos("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),
            (3, nanos("2024-01-01 10:02:00"), 1, "click", 1.0, "{}"),
        ],
    )
    now = os.path.getmtime(events_dir / "b.parquet")
    os.utime(events_dir / "a.parquet", (now - 100, now - 100))

    stream = read_events_stream(spark, str(events_dir), max_files_per_trigger=1)
    q = (
        dedup_events_stream(stream)
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ids = [r["event_id"] for r in spark.sql("SELECT event_id FROM t_dedup").collect()]
    assert sorted(ids) == [1, 2, 3], ids  # exactly once each

    progresses = [
        json.loads(p.json) if hasattr(p, "json") else json.loads(p)
        for p in q.recentProgress
    ]
    dropped = sum(
        so.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
        for p in progresses
        for so in p.get("stateOperators", [])
    )
    assert dropped == 1, progresses
    assert all(
        so["operatorName"] == "dedupeWithinWatermark"
        for p in progresses
        for so in p.get("stateOperators", [])
    )


def test_idempotent_sink_exactly_once(spark, tmp_path):
    """foreachBatch exactly-once: (a) a two-file replay lands every row
    exactly once in batch_id partitions; (b) REPLAYING a batch (the
    at-least-once failure mode) overwrites its directory instead of
    appending duplicates; (c) restarting the drained stream with the same
    checkpoint writes nothing new."""
    import os

    import pandas as pd

    from usgs_lidar_spark.streaming.sink import (
        idempotent_parquet_writer,
        run_stream_to_parquet,
    )

    def nanos(s: str) -> int:
        return int(pd.Timestamp(s).value)

    def write(path, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).to_parquet(path, index=False)

    events_dir = tmp_path / "sink_events"
    events_dir.mkdir()
    write(
        events_dir / "a.parquet",
        [
            (1, nanos("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),
            (2, nanos("2024-01-01 10:01:00"), 1, "click", 1.0, "{}"),
        ],
    )
    write(
        events_dir / "b.parquet",
        [(3, nanos("2024-01-01 10:02:00"), 2, "view", 2.0, "{}")],
    )
    now = os.path.getmtime(events_dir / "b.parquet")
    os.utime(events_dir / "a.parquet", (now - 100, now - 100))

    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    stream = read_events_stream(spark, str(events_dir), max_files_per_trigger=1)
    run_stream_to_parquet(stream, out, ckpt)

    result = spark.read.parquet(out)
    assert sorted(r["event_id"] for r in result.collect()) == [1, 2, 3]
    assert result.select("batch_id").distinct().count() == 2

    # (b) simulate the crash-replay of batch 0: same data, same batch id.
    # localCheckpoint materializes the rows first — the replayed write
    # overwrites the very files a lazy plan would still be reading.
    batch0 = result.filter("batch_id = 0").drop("batch_id").localCheckpoint()
    idempotent_parquet_writer(out)(batch0, 0)
    again = spark.read.parquet(out)
    assert sorted(r["event_id"] for r in again.collect()) == [1, 2, 3]

    # (c) restart with the same checkpoint: nothing new to process.
    run_stream_to_parquet(
        read_events_stream(spark, str(events_dir), max_files_per_trigger=1),
        out,
        ckpt,
    )
    assert spark.read.parquet(out).count() == 3


def test_sink_exactly_once_across_crash_restart(spark, tmp_path):
    """THE exactly-once claim a user relies on: the query dies in the
    worst window — AFTER the sink write for a batch, BEFORE the
    checkpoint commit — and a restart from the same checkpoint dir must
    replay that batch into the same batch_id partition and finish the
    rest, landing every input row exactly once with no gaps.

    The crash is injected by a foreachBatch wrapper that raises on batch
    1 the first time only (a marker file makes the failure one-shot, as a
    real transient crash is); restart uses the SAME checkpoint location.
    """
    import os

    import pandas as pd

    from usgs_lidar_spark.streaming.sink import idempotent_parquet_writer

    def nanos(s: str) -> int:
        return int(pd.Timestamp(s).value)

    events_dir = tmp_path / "crash_events"
    events_dir.mkdir()
    for i, (name, eid, ts) in enumerate(
        [
            ("a.parquet", 1, "2024-01-01 10:00:00"),
            ("b.parquet", 2, "2024-01-01 10:01:00"),
            ("c.parquet", 3, "2024-01-01 10:02:00"),
        ]
    ):
        pd.DataFrame(
            [(eid, nanos(ts), 1, "click", 1.0, "{}")],
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        ).to_parquet(events_dir / name, index=False)
        os.utime(events_dir / name, (1700000000 + i, 1700000000 + i))

    out = str(tmp_path / "crash_out")
    ckpt = str(tmp_path / "crash_ckpt")
    crash_marker = tmp_path / "crashed_once"
    inner = idempotent_parquet_writer(out)

    def crashing_writer(df, batch_id):
        inner(df, batch_id)  # sink write SUCCEEDS...
        if batch_id == 1 and not crash_marker.exists():
            crash_marker.write_text("boom")
            raise RuntimeError("injected crash after write, before commit")

    def start():
        return (
            read_events_stream(spark, str(events_dir), max_files_per_trigger=1)
            .writeStream.foreachBatch(crashing_writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(Exception, match="injected crash"):
        start().awaitTermination()
    # batch 1's data is on disk but NOT committed — the at-least-once gap.
    assert crash_marker.exists()
    assert sorted(
        r["event_id"] for r in spark.read.parquet(out).collect()
    ) == [1, 2]

    start().awaitTermination()  # restart from the same checkpoint

    result = spark.read.parquet(out)
    rows = [(r["event_id"], r["batch_id"]) for r in result.collect()]
    assert sorted(eid for eid, _ in rows) == [1, 2, 3]  # exactly once, no gaps
    batch_ids = sorted(b for _, b in rows)
    assert len(set(batch_ids)) == 3  # batch 1 replayed into ITS dir, not a new one


@STORE_ROOTS
def test_sink_compaction_end_to_end(spark, tmp_path, as_root):
    """Compaction job over a multi-batch sink: rewrites sealed batch dirs
    into one well-sized dataset behind an atomic manifest, preserves every
    row and its batch_id provenance, leaves live batches alone, and
    composes incrementally; read_sink is consistent at every step."""
    from usgs_lidar_spark.streaming.compact import (
        compact_sink,
        read_sink,
    )
    from usgs_lidar_spark.streaming.sink import idempotent_parquet_writer

    out = as_root(tmp_path / "comp_sink")
    write = idempotent_parquet_writer(out)
    for b in range(4):
        write(
            spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "event_id"),
            b,
        )

    # Pre-compaction view: plain batch-dir union.
    assert read_sink(spark, out).count() == 40

    # Compact batches 0..2; batch 3 is the stream's live tail.
    m = compact_sink(spark, out, up_to_batch=2, target_partitions=1)
    assert m["version"] == 1 and m["max_batch_id"] == 2
    view = read_sink(spark, out)
    assert sorted(r["event_id"] for r in view.collect()) == list(range(40))
    # provenance survives; superseded batch dirs are gone, tail remains
    assert view.filter("batch_id = 1").count() == 10
    names = {p.name for p in (tmp_path / "comp_sink").iterdir()}
    assert names == {"batch_id=3", "_compacted"}
    # the compacted dataset is ONE file (the small-file fix)
    assert [lv["dir"] for lv in m["levels"]] == ["v1"]
    vdir = tmp_path / "comp_sink" / "_compacted" / "v1"
    assert len(list(vdir.glob("*.parquet"))) == 1

    # An orphan version dir (crash before manifest swap) is invisible.
    (tmp_path / "comp_sink" / "_compacted" / "v99").mkdir()
    assert read_sink(spark, out).count() == 40

    # Nothing new sealed -> no-op.
    assert compact_sink(spark, out, up_to_batch=2) is None

    # Incremental round: seal batch 3 plus a new batch 4.
    write(
        spark.range(40, 50).withColumnRenamed("id", "event_id"), 4
    )
    m2 = compact_sink(spark, out, target_partitions=1)
    assert m2["version"] == 2 and m2["max_batch_id"] == 4
    assert m2["n_source_batches"] == 5
    final = read_sink(spark, out)
    assert sorted(r["event_id"] for r in final.collect()) == list(range(50))
    assert final.select("batch_id").distinct().count() == 5
    # round 16: the second compaction is a MINOR fold — batches 3-4 land
    # in a NEW level and v1 stays on disk untouched (O(tail), the LSM
    # leveling), with both levels live in the manifest
    comp = tmp_path / "comp_sink" / "_compacted"
    assert [lv["dir"] for lv in m2["levels"]] == ["v1", "v2"]
    assert (comp / "v1").exists() and (comp / "v2").exists()
    # MAJOR merges the level set into one dir; the view is unchanged
    m3 = compact_sink(spark, out, target_partitions=1, major=True)
    assert [lv["dir"] for lv in m3["levels"]] == ["v3"]
    assert m3["version"] == 3 and m3["max_batch_id"] == 4
    assert not (comp / "v1").exists() and not (comp / "v2").exists()
    assert sorted(
        r["event_id"] for r in read_sink(spark, out).collect()
    ) == list(range(50))
    # a fully-merged sink with no tail has nothing left to fold
    assert compact_sink(spark, out, major=True) is None


def test_stream_continues_across_compaction(spark, tmp_path):
    """Live-pipeline integration: drain a stream into the idempotent
    sink, COMPACT the sealed batches, then resume the SAME stream (same
    checkpoint) over newly-arrived files. The resumed stream's batch ids
    continue past the compacted range into fresh batch_id dirs, and
    read_sink serves the union (compacted + post-compaction tail) with
    every event exactly once."""
    import os

    import pandas as pd

    from usgs_lidar_spark.streaming.compact import compact_sink, read_sink
    from usgs_lidar_spark.streaming.sink import run_stream_to_parquet

    def write(path, eid, second, mtime):
        pd.DataFrame(
            [(eid, int(pd.Timestamp("2024-01-01").value) + second * 10**9,
              1, "click", 1.0, "{}")],
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        ).to_parquet(path, index=False)
        os.utime(path, (mtime, mtime))

    events_dir = tmp_path / "live_events"
    events_dir.mkdir()
    for i in range(3):
        write(events_dir / f"{i}.parquet", i, i * 60, 1700000000 + i)

    out = str(tmp_path / "live_out")
    ckpt = str(tmp_path / "live_ckpt")

    def drain():
        run_stream_to_parquet(
            read_events_stream(spark, str(events_dir), max_files_per_trigger=1),
            out,
            ckpt,
        )

    drain()  # batches 0..2
    m = compact_sink(spark, out, target_partitions=1)
    assert m["max_batch_id"] == 2

    # New data arrives; the resumed stream must not reuse compacted ids.
    for i in (3, 4):
        write(events_dir / f"{i}.parquet", i, i * 60, 1700000000 + i)
    drain()

    view = read_sink(spark, out)
    assert sorted(r["event_id"] for r in view.collect()) == [0, 1, 2, 3, 4]
    batch_ids = {r["batch_id"] for r in view.collect()}
    assert batch_ids == {0, 1, 2, 3, 4}  # continuation, no id reuse
    tail_dirs = {
        p.name for p in (tmp_path / "live_out").iterdir()
        if p.name.startswith("batch_id=")
    }
    assert tail_dirs == {"batch_id=3", "batch_id=4"}  # 0..2 live compacted


def test_streaming_session_window_late_data_dropped(spark, tmp_path):
    """Session-window eviction: a late event that WOULD have merged into
    an already-finalized session is dropped instead of resurrecting it.
    Same three-batch construction as the tumbling test (eviction happens
    a batch before the late arrival): file A forms a 2-event session for
    user 7 and advances the watermark; file B finalizes it; file C's
    late event lands inside the closed session's span."""
    import json
    import os

    import pandas as pd

    from usgs_lidar_spark.streaming.events import session_counts

    def nanos(s: str) -> int:
        return int(pd.Timestamp(s).value)

    def write(path, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).to_parquet(path, index=False)

    events_dir = tmp_path / "late_sessions"
    events_dir.mkdir()
    write(
        events_dir / "a.parquet",
        [
            (1, nanos("2024-01-01 10:00:00"), 7, "click", 1.0, "{}"),
            (2, nanos("2024-01-01 10:02:00"), 7, "click", 1.0, "{}"),
            (3, nanos("2024-01-01 11:00:00"), 8, "click", 1.0, "{}"),
        ],
    )
    write(
        events_dir / "b.parquet",
        [(4, nanos("2024-01-01 11:05:00"), 8, "click", 1.0, "{}")],
    )
    # Late: 10:03 falls inside user 7's closed [10:00, 10:07) session.
    write(
        events_dir / "c.parquet",
        [(5, nanos("2024-01-01 10:03:00"), 7, "click", 1.0, "{}")],
    )
    now = os.path.getmtime(events_dir / "c.parquet")
    os.utime(events_dir / "a.parquet", (now - 200, now - 200))
    os.utime(events_dir / "b.parquet", (now - 100, now - 100))

    stream = read_events_stream(spark, str(events_dir), max_files_per_trigger=1)
    q = (
        session_counts(stream)  # 5-minute gap, 30-minute watermark
        .writeStream.format("memory")
        .queryName("t_late_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    progresses = [
        json.loads(p.json) if hasattr(p, "json") else json.loads(p)
        for p in q.recentProgress
    ]
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for so in p.get("stateOperators", [])
    )
    assert dropped == 1, progresses

    finalized = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_late_sessions").collect()
    }
    # User 7's session finalized with its two on-time events; the late
    # 10:03 event neither extended it nor spawned a new session.
    assert finalized[(7, "2024-01-01 10:00:00.000000")] == 2
    assert all(uid != 7 or ss.startswith("2024-01-01 10:00") for uid, ss in finalized)

def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval self-join (clicks x purchases per user,
    30-minute horizon, watermarks on both sides) replayed with
    availableNow in APPEND mode must emit exactly the batch twin's pairs
    — inner interval joins emit each match once, so append is the
    correct (and only legal) output mode."""
    from usgs_lidar_spark.streaming.events import click_purchase_join_stream

    events_dir = tmp_path / "events_ssj"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", events_dir / "part-0.parquet")

    stream = read_events_stream(spark, str(events_dir))
    joined = click_purchase_join_stream(stream)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.sql("SELECT * FROM t_ssj")

    batch = QUERIES["events_click_purchase_pairs"](spark, SF_SMALL)
    s_cols, s_rows = canonical_rows(result.toPandas())
    b_cols, b_rows = canonical_rows(batch.toPandas())
    assert s_cols == b_cols
    assert len(s_rows) > 0
    assert s_rows == b_rows


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a static
    (batch) dimension needs no watermark and no state — each micro-batch
    joins the dimension as a plain broadcastable lookup. Counts per
    enriched segment must equal the batch equivalent."""
    from pyspark.sql import functions as F

    events_dir = tmp_path / "events_enrich"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", events_dir / "part-0.parquet")

    stream = read_events_stream(spark, str(events_dir))
    from usgs_lidar_spark.catalog import load_table

    batch_events = load_table(spark, SF_SMALL, "events")
    segments = (
        batch_events.select("user_id").distinct()
        .withColumn("segment", F.when(F.col("user_id") % 3 == 0, "core")
                    .otherwise("longtail"))
    )
    enriched = (
        stream.join(F.broadcast(segments), "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_available_now(enriched, "t_enrich")
    got = {r["segment"]: r["n"] for r in out.collect()}
    want = {
        r["segment"]: r["n"]
        for r in batch_events.join(segments, "user_id")
        .groupBy("segment").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and set(got) == {"core", "longtail"}


@STORE_ROOTS
def test_vacuum_sink_removes_only_unreachable_state(spark, tmp_path, as_root):
    """Simulated crash leftovers: a batch dir the manifest already covers,
    an orphan compacted version, and a stale manifest tmp. Vacuum removes
    exactly those; the live tail batch and active version survive, and
    read_sink sees identical data before and after."""
    import json as _json

    from pyspark.sql import functions as F

    from usgs_lidar_spark.streaming.compact import (
        compact_sink,
        read_sink,
        vacuum_sink,
    )

    sink = tmp_path / "sink"
    root = as_root(sink)
    for b in range(3):
        spark.range(b * 10, b * 10 + 10).withColumn(
            "v", F.col("id") * 2
        ).write.parquet(str(sink / f"batch_id={b}"))
    m = compact_sink(spark, root, up_to_batch=1)
    assert m["max_batch_id"] == 1

    # crash leftovers: covered batch dir re-appears (crash between
    # publish and delete), a RETIRED orphan version (v0 <= active), an
    # in-flight NEWER build dir (v99 — a concurrent compaction's
    # in-progress write, the r15 ADVICE race), a stale tmp manifest
    spark.range(0, 10).withColumn("v", F.col("id") * 2).write.parquet(
        str(sink / "batch_id=0")
    )
    (sink / "_compacted" / "v0").mkdir()
    (sink / "_compacted" / "v99").mkdir()
    (sink / "_compacted" / ".MANIFEST-2.json.tmp").write_text("{}")

    before = sorted(tuple(r) for r in read_sink(spark, root).collect())
    removed = vacuum_sink(spark, root)
    assert removed == {
        "batch_dirs": 1, "version_dirs": 1, "manifests": 0, "tmp": 1
    }
    after = sorted(tuple(r) for r in read_sink(spark, root).collect())
    assert before == after and len(after) == 30
    # live tail untouched, active level untouched, in-flight build SPARED
    assert (sink / "batch_id=2").is_dir()
    active = _json.loads((sink / "_compacted" / "MANIFEST-1.json").read_text())
    for lv in active["levels"]:
        assert (sink / "_compacted" / lv["dir"]).is_dir()
    assert not (sink / "batch_id=0").exists()
    assert not (sink / "_compacted" / "v0").exists()  # retired: removed
    assert (sink / "_compacted" / "v99").is_dir()  # in-flight: spared


@STORE_ROOTS
def test_streaming_rollup_matches_batch_and_survives_crash(
    spark, tmp_path, as_root
):
    """Streaming materialized view: per-type (sum, count, min, max) rollup
    maintained across micro-batches must equal the batch aggregate over
    all input — including when the query crashes AFTER a version publish
    but BEFORE the checkpoint commit, forcing a replay of that batch (the
    double-counting trap the versioned manifest exists to prevent)."""
    import os

    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    from usgs_lidar_spark.streaming.rollup_sink import (
        read_rollup,
        rollup_writer,
    )

    events_dir = tmp_path / "ru_events"
    events_dir.mkdir()

    def nanos(s: str) -> int:
        return int(pd.Timestamp(s).value)

    rows = [
        ("a.parquet", [(1, "click", 1.25), (2, "view", 2.0)]),
        ("b.parquet", [(3, "click", 0.75)]),
        ("c.parquet", [(4, "view", 5.5), (5, "click", 1.0)]),
    ]
    for i, (name, evs) in enumerate(rows):
        pd.DataFrame(
            [
                (eid, nanos("2024-01-01 10:00:00") + eid, 1, et, v, "{}")
                for eid, et, v in evs
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        ).to_parquet(events_dir / name, index=False)
        os.utime(events_dir / name, (1700000000 + i, 1700000000 + i))

    out = as_root(tmp_path / "ru_out")
    ckpt = str(tmp_path / "ru_ckpt")
    keys, measures = ["event_type"], [("value", "sum"), ("value", "count")]
    inner = rollup_writer(out, keys, measures)
    crash_marker = tmp_path / "ru_crashed"

    def crashing_writer(df, batch_id):
        inner(df, batch_id)  # version published...
        if batch_id == 1 and not crash_marker.exists():
            crash_marker.write_text("boom")
            raise RuntimeError("injected crash after publish, before commit")

    def start():
        return (
            read_events_stream(spark, str(events_dir), max_files_per_trigger=1)
            .writeStream.foreachBatch(crashing_writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    with _pytest.raises(Exception, match="injected crash"):
        start().awaitTermination()
    start().awaitTermination()  # restart: replays batch 1, then batch 2

    got = {
        r["event_type"]: (r["value_sum"], r["value_count"])
        for r in read_rollup(spark, out).collect()
    }
    # exact cents: click 1.25+0.75+1.00 = 300 cents over 3 rows
    assert got == {"click": (300, 3), "view": (750, 2)}

    # and equals the batch-computed rollup over the same files
    from usgs_lidar_spark.operators.rollup import rollup_state
    from usgs_lidar_spark.streaming.events import EVENTS_RAW_SCHEMA

    batch = {
        r["event_type"]: (r["value_sum"], r["value_count"])
        for r in rollup_state(
            spark.read.schema(EVENTS_RAW_SCHEMA).parquet(str(events_dir)),
            keys, measures,
        ).collect()
    }
    assert got == batch
    # the manifest lives under the store, and version retention keeps
    # only the active version (a replay of it is a no-op)
    import json as _json2

    comp = tmp_path / "ru_out" / "_compacted"
    manifests = list(comp.glob("MANIFEST-*.json"))
    assert len(manifests) == 1
    m = _json2.loads(manifests[0].read_text())
    assert m["max_batch_id"] == 2
    vdirs = {p.name for p in comp.iterdir() if p.is_dir()}
    assert vdirs == {lv["dir"] for lv in m["levels"]}


def test_tws_moments_matches_batch(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) per-user
    moments after one availableNow pass equal the batch aggregate —
    exact integer state, so replay order can't change the answer.
    Skips where Spark's TWS python runner can't start (its state-server
    protocol needs google.protobuf, absent in this container)."""
    import shutil
    import pytest
    from pyspark.sql import functions as F
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.streaming.stateful_tws import (
        have_tws_runtime,
        track_user_moments_tws,
    )

    if not have_tws_runtime():
        pytest.skip("google.protobuf unavailable: TWS runner cannot start")

    events_dir = tmp_path / "events_tws"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", events_dir / "part-0.parquet")
    stream = read_events_stream(spark, str(events_dir))

    q = (
        track_user_moments_tws(stream)
        .writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (
            r["n_events"],
            r["value_sum"],
            round(r["value_mean"], 6),
            round(r["value_var"], 4),
        )
        for r in spark.sql("SELECT * FROM t_tws").collect()
    }

    cents = F.round(F.col("value") * 100).cast("long")
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("c"),
            F.sum(cents * cents).alias("c2"),
        )
    )
    want = {}
    for r in batch.collect():
        mean_c = r["c"] / r["n"]
        var_c = r["c2"] / r["n"] - mean_c * mean_c
        want[r["user_id"]] = (
            r["n"],
            r["c"] / 100.0,
            round(mean_c / 100.0, 6),
            round(var_c / 10000.0, 4),
        )
    assert got == want
    assert len(got) > 0


@STORE_ROOTS
def test_compaction_with_stats_skipping(spark, tmp_path, as_root):
    """Compaction with cluster_by + stats_columns produces a compacted
    dataset whose per-file stats prune reads: read_sink_with_skipping
    equals the filtered read_sink exactly while opening fewer compacted
    files, and an uncompacted tail batch still contributes rows."""
    from pyspark.sql import functions as F
    from usgs_lidar_spark.streaming.compact import (
        compact_sink,
        read_sink,
        read_sink_with_skipping,
    )

    sink = as_root(tmp_path / "sink")
    # three sealed batches + one tail batch, value ranges overlapping
    for b in range(4):
        spark.range(b * 1000, (b + 1) * 1000).select(
            F.col("id"), (F.col("id") % 500).cast("double").alias("x")
        ).write.parquet(f"{sink}/batch_id={b}")

    m = compact_sink(
        spark,
        sink,
        up_to_batch=2,
        target_partitions=6,
        cluster_by=["x"],
        stats_columns=["x"],
    )
    assert m is not None and m["max_batch_id"] == 2

    ranges = {"x": (100.0, 120.0)}
    got = read_sink_with_skipping(spark, sink, ranges)
    want = read_sink(spark, sink).filter("x >= 100.0 and x <= 120.0")
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )
    # tail rows (batch 3) for the range are present
    assert any(r["id"] >= 3000 for r in got.collect())
    # skipping provably touches fewer compacted files than the full view
    assert len(got.inputFiles()) < len(read_sink(spark, sink).inputFiles())

    nothing = read_sink_with_skipping(spark, sink, {"x": (5000.0, 6000.0)})
    assert nothing.count() == 0

    # round 16: a SECOND (minor) compaction seals the tail into a new
    # LEVEL with its own stats sidecar — skipping prunes per level and
    # the pruned view still equals the filtered full view exactly
    m2 = compact_sink(
        spark, sink, target_partitions=6,
        cluster_by=["x"], stats_columns=["x"],
    )
    assert [lv["dir"] for lv in m2["levels"]] == ["v1", "v2"]
    got2 = read_sink_with_skipping(spark, sink, ranges)
    want2 = read_sink(spark, sink).filter("x >= 100.0 and x <= 120.0")
    assert sorted(r["id"] for r in got2.collect()) == sorted(
        r["id"] for r in want2.collect()
    )
    assert len(got2.inputFiles()) < len(read_sink(spark, sink).inputFiles())


def test_stats_skipping_preserves_hive_partition_columns(spark, tmp_path):
    """compact_sink(partition_by + stats_columns): the pruned compacted
    read must keep the hive partition column alive (basePath anchor) —
    without it unionByName(allowMissingColumns) silently nulls it and
    filters on the partition column corrupt results."""
    from pyspark.sql import functions as F
    from usgs_lidar_spark.sources.stats_manifest import read_with_skipping
    from usgs_lidar_spark.streaming.compact import (
        compact_sink,
        read_sink,
        read_sink_with_skipping,
    )

    sink = str(tmp_path / "sink")
    for b in range(2):
        spark.range(b * 1000, (b + 1) * 1000).select(
            F.col("id"),
            (F.col("id") % 500).cast("double").alias("x"),
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("par"),
        ).write.parquet(f"{sink}/batch_id={b}")
    m = compact_sink(
        spark,
        sink,
        up_to_batch=0,
        target_partitions=4,
        partition_by=["par"],
        cluster_by=["x"],
        stats_columns=["x"],
    )
    assert m is not None

    got = read_sink_with_skipping(spark, sink, {"x": (100.0, 120.0)})
    assert "par" in got.columns
    # compacted rows (id < 1000) carry their real partition value — the
    # nulled-column failure mode returns NULL here.
    compacted = [r for r in got.collect() if r["id"] < 1000]
    assert compacted and all(
        r["par"] == ("even" if r["id"] % 2 == 0 else "odd") for r in compacted
    )
    want = read_sink(spark, sink).filter("x >= 100.0 and x <= 120.0")
    assert sorted((r["id"], r["par"]) for r in got.collect()) == sorted(
        (r["id"], r["par"]) for r in want.collect()
    )
    # and a filter on the partition column composes with skipping
    evens = got.filter("par = 'even'").collect()
    assert evens and all(r["id"] % 2 == 0 for r in evens)

    # the plain stats-manifest read path over a hive-partitioned table
    # keeps the partition column too
    tbl = str(tmp_path / "tbl")
    spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 500).cast("double").alias("x"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("par"),
    ).repartitionByRange(4, "x").write.partitionBy("par").parquet(tbl)
    from usgs_lidar_spark.sources.stats_manifest import write_stats_manifest

    write_stats_manifest(spark, tbl, ["x"])
    out = read_with_skipping(spark, tbl, {"x": (0.0, 10.0)})
    assert "par" in out.columns
    rows = out.collect()
    assert rows and all(
        r["par"] == ("even" if r["id"] % 2 == 0 else "odd") for r in rows
    )


def test_to_cents_half_up_matches_f_round(spark):
    """The stateful-stream cents scaler must agree with the engine-wide
    F.round (HALF_UP, away from zero) convention — including exact
    .5-cent values where numpy/pandas round() goes half-to-even."""
    from pyspark.sql import functions as F
    from usgs_lidar_spark.streaming.stateful import to_cents_half_up

    vals = [0.125, -0.125, 0.135, -0.135, 1.005, 2.675, -2.675, 0.0, 3.0]
    got = list(to_cents_half_up(vals))
    want = [
        r["c"]
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .select(F.round(F.col("v") * 100).cast("long").alias("c"))
        .collect()
    ]
    assert got == want
    # the exact-half cases really do exercise the divergence
    import numpy as np

    assert list(np.round(np.array([0.125]) * 100).astype("int64")) != [13]
    assert got[:2] == [13, -13]


def test_stream_stream_left_join_eviction(spark, tmp_path):
    """Left-outer stream-stream interval join: matched pairs emit like
    the inner join, and a click's NULL-purchase row emits exactly when
    the watermark PROVES no purchase can still match (eviction time) —
    not before. Three mtime-ordered micro-batches: A carries a matched
    click, an unmatched click, and their purchases' window; B advances
    the watermark past A's horizon (evicting + emitting A's unmatched
    click); C is a far-future heartbeat so B's own click is provably
    still young (inside watermark) when the stream ends — it must NOT
    have a null row."""
    import os

    import pandas as pd

    from usgs_lidar_spark.streaming.events import click_purchase_join_stream

    def nanos(s: str) -> int:
        return int(pd.Timestamp(s).value)

    def write(path, rows):
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        ).to_parquet(path, index=False)

    events_dir = tmp_path / "ssj_left"
    events_dir.mkdir()
    write(
        events_dir / "a.parquet",
        [
            (1, nanos("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),
            (2, nanos("2024-01-01 10:10:00"), 1, "purchase", 5.0, "{}"),
            (3, nanos("2024-01-01 10:00:00"), 2, "click", 1.0, "{}"),
        ],
    )
    # B: BOTH sides' watermarks -> 14:00 - 1h = 13:00 > 10:30 (A's click
    # horizon). The global watermark is the MIN across the two
    # withWatermark branches and each branch only sees its own
    # event_type, so the advancer must include a purchase AND a click
    # (disjoint users — nothing new matches). Click 3 then evicts in the
    # next batch and emits its null row.
    write(
        events_dir / "b.parquet",
        [
            (4, nanos("2024-01-01 15:30:00"), 3, "click", 1.0, "{}"),
            (6, nanos("2024-01-01 14:00:00"), 8, "purchase", 2.0, "{}"),
        ],
    )
    # C: heartbeat pair advancing the final watermark to 16:00 - 1h =
    # 15:00 (availableNow runs a terminating flush batch at that
    # watermark, evicting click 3). Click 4 at 15:30 expires only past
    # 16:00, above the final watermark — unmatched but provably still
    # young, so it must NOT get a null row.
    write(
        events_dir / "c.parquet",
        [
            (5, nanos("2024-01-01 16:00:00"), 9, "click", 0.0, "{}"),
            (7, nanos("2024-01-01 16:00:00"), 10, "purchase", 0.0, "{}"),
        ],
    )
    now = os.path.getmtime(events_dir / "c.parquet")
    os.utime(events_dir / "a.parquet", (now - 200, now - 200))
    os.utime(events_dir / "b.parquet", (now - 100, now - 100))

    stream = read_events_stream(spark, str(events_dir), max_files_per_trigger=1)
    q = (
        click_purchase_join_stream(stream, how="leftOuter")
        .writeStream.format("memory")
        .queryName("t_ssj_left")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM t_ssj_left").collect()
    pairs = {
        (r["click_id"], r["purchase_id"])
        for r in rows
        if r["purchase_id"] is not None
    }
    nulls = {r["click_id"] for r in rows if r["purchase_id"] is None}
    assert pairs == {(1, 2)}
    assert 3 in nulls, rows          # evicted unmatched click emitted NULL
    assert 4 not in nulls, rows      # young click must not be declared dead
    assert 1 not in nulls            # matched click never gets a null row


def test_streaming_ivf_index_maintenance(spark, tmp_path):
    """foreachBatch-maintained persisted IVF index: the base index plus
    streamed micro-batch appends must be row-for-row identical to a
    from-scratch write over the full corpus (the ivf_append invariant,
    now through the on-disk layout), and serving through the appended
    index matches serving through the rebuilt one."""
    import shutil as _sh

    from pyspark.sql import functions as F
    from usgs_lidar_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )

    emb_path = f"{SF_SMALL}/embeddings.parquet"
    emb = spark.read.parquet(emb_path)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 8").collect()
    ]
    # base index over the first 300 vectors
    idx = str(tmp_path / "ivf_idx")
    write_ivf_index(emb.filter("vec_id < 300"), cents, idx)

    # stream the remainder in as micro-batches via foreachBatch
    stream_dir = tmp_path / "stream_src"
    stream_dir.mkdir()
    emb.filter("vec_id >= 300").write.mode("overwrite").parquet(
        str(tmp_path / "tail")
    )
    for i, f in enumerate(sorted((tmp_path / "tail").glob("*.parquet"))):
        _sh.copy(f, stream_dir / f"part-{i}.parquet")
    stream = spark.readStream.schema(emb.schema).parquet(str(stream_dir))
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _id: append_to_ivf_index(batch, idx)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rebuilt = str(tmp_path / "ivf_full")
    write_ivf_index(emb, cents, rebuilt)
    a = sorted(
        map(tuple, spark.read.parquet(idx).select("vec_id", "cid").collect())
    )
    b = sorted(
        map(
            tuple,
            spark.read.parquet(rebuilt).select("vec_id", "cid").collect(),
        )
    )
    assert a == b and len(a) == emb.count()

    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_topk_from_index(spark, idx, queries, k=5, n_probe=2)
    want = ivf_topk_from_index(spark, rebuilt, queries, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_streaming_term_index_maintenance(spark, tmp_path):
    """foreachBatch-maintained persisted inverted index: base index +
    streamed micro-batch appends serve BM25 row-identically to a
    from-scratch index over the full corpus, and the sidecar stats
    advance to the exact union values (the append_to_term_index
    invariant, through the streaming path)."""
    import shutil as _sh

    from usgs_lidar_spark.operators.retrieval import (
        append_to_term_index,
        bm25_topk_from_index,
        write_term_index,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "term_idx")
    write_term_index(docs.filter("doc_id < 30"), idx, n_buckets=8)

    stream_dir = tmp_path / "stream_src"
    stream_dir.mkdir()
    docs.filter("doc_id >= 30").write.mode("overwrite").parquet(
        str(tmp_path / "tail")
    )
    for i, f in enumerate(sorted((tmp_path / "tail").glob("*.parquet"))):
        _sh.copy(f, stream_dir / f"part-{i}.parquet")
    stream = spark.readStream.schema(docs.schema).parquet(str(stream_dir))
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _id: append_to_term_index(batch, idx, n_buckets=8)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rebuilt = str(tmp_path / "term_full")
    write_term_index(docs, rebuilt, n_buckets=8)
    terms = ["merge", "spark", "vector"]
    a = [tuple(r) for r in
         bm25_topk_from_index(spark, idx, terms, k=10, n_buckets=8).collect()]
    b = [tuple(r) for r in
         bm25_topk_from_index(spark, rebuilt, terms, k=10,
                              n_buckets=8).collect()]
    assert a == b
    si = spark.read.parquet(f"{idx}/_corpus_stats").collect()[0]
    sr = spark.read.parquet(f"{rebuilt}/_corpus_stats").collect()[0]
    assert tuple(si) == tuple(sr)


def test_streaming_ivf_pq_index_maintenance(spark, tmp_path):
    """foreachBatch-maintained COMPRESSED index: streamed micro-batch
    appends (stored quantizers re-encode only the batch) leave the
    IVF-PQ index row-for-row identical to a from-scratch build over the
    full corpus — codes are a pure function of vector + codebooks, so
    maintenance can never drift the stored representation."""
    import shutil as _sh

    from usgs_lidar_spark.operators.similarity import (
        append_to_ivf_pq_index,
        pq_codebooks_from_rows,
        write_ivf_pq_index,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    cents = [(i, v) for i, v in enumerate(seeds)]
    cbs = pq_codebooks_from_rows(seeds, n_sub=4)
    idx = str(tmp_path / "ivf_pq_idx")
    write_ivf_pq_index(emb.filter("vec_id < 300"), cents, cbs, idx)

    stream_dir = tmp_path / "stream_src"
    stream_dir.mkdir()
    emb.filter("vec_id >= 300").write.mode("overwrite").parquet(
        str(tmp_path / "tail")
    )
    for i, f in enumerate(sorted((tmp_path / "tail").glob("*.parquet"))):
        _sh.copy(f, stream_dir / f"part-{i}.parquet")
    stream = spark.readStream.schema(emb.schema).parquet(str(stream_dir))
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _id: append_to_ivf_pq_index(batch, idx)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rebuilt = str(tmp_path / "ivf_pq_full")
    write_ivf_pq_index(emb, cents, cbs, rebuilt)
    a = sorted(
        (r["vec_id"], r["cid"], tuple(r["pq_codes"]))
        for r in spark.read.parquet(idx).collect()
    )
    b = sorted(
        (r["vec_id"], r["cid"], tuple(r["pq_codes"]))
        for r in spark.read.parquet(rebuilt).collect()
    )
    assert a == b and a


def test_streaming_chunk_dedup_ingest(spark, tmp_path):
    """foreachBatch passage-dedup ingest: each micro-batch dedups
    against the persisted digest store, emits its reassembled docs,
    and appends its own digests — after the stream drains, the union
    of emitted docs equals the one-shot chunk_dedup_docs over the whole
    corpus (ids are monotone across batches, so within-batch election
    matches the global first-occurrence rule)."""
    import shutil as _sh

    from usgs_lidar_spark.operators.dedup import (
        chunk_dedup_docs,
        chunk_dedup_incremental,
        chunk_digests,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "digest_store")
    out = str(tmp_path / "deduped_out")
    # seed an empty store with the right schema
    chunk_digests(docs.filter("doc_id < 0"), chunk_tokens=4).write.parquet(
        store
    )

    stream_dir = tmp_path / "stream_src"
    stream_dir.mkdir()
    # two ordered micro-batch files (monotone ids across batches)
    for i, flt in enumerate(("doc_id < 25", "doc_id >= 25")):
        docs.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"b{i}")
        )
        src = next((tmp_path / f"b{i}").glob("*.parquet"))
        _sh.copy(src, stream_dir / f"part-{i}.parquet")

    def ingest(batch, _id):
        s = batch.sparkSession.read.parquet(store)
        chunk_dedup_incremental(batch, s, chunk_tokens=4).write.mode(
            "append"
        ).parquet(out)
        chunk_digests(batch, chunk_tokens=4).write.mode("append").parquet(
            store
        )

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in chunk_dedup_docs(docs, chunk_tokens=4).collect()
    }
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == want


def test_ingest_store_prefix_bucketing_prunes_probe(spark, tmp_path):
    """Round 11: the digest store is hive-partitioned batch_id/dp
    (dp = first prefix_width hex chars of the digest). Pins (a) the
    on-disk layout, (b) that the probe's literal prefix filter actually
    PARTITION-PRUNES the store scan (PartitionFilters carries dp, and
    the scan reads strictly fewer files than the full store), and
    (c) that the pruned probe returns exactly the digests under the
    requested prefixes."""
    from usgs_lidar_spark.operators.dedup import chunk_digests
    from usgs_lidar_spark.streaming.ingest import (
        chunk_dedup_ingest_writer,
        read_store_before,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "digest_store")
    out = str(tmp_path / "deduped_out")
    ingest = chunk_dedup_ingest_writer(store, out, chunk_tokens=4)
    ingest(docs.filter("doc_id < 25"), 0)
    ingest(docs.filter("doc_id >= 25"), 1)

    # (a) layout: every batch dir contains dp=<2 hex chars> buckets.
    batch_dirs = sorted(p.name for p in (tmp_path / "digest_store").iterdir())
    assert batch_dirs[:2] == ["batch_id=0", "batch_id=1"]
    dps = sorted(
        p.name
        for p in (tmp_path / "digest_store" / "batch_id=0").iterdir()
        if p.is_dir()
    )
    assert dps and all(
        d.startswith("dp=") and len(d) == 5 for d in dps
    ), dps

    # (c) pruned probe == manual filter of the full history.
    all_hist = {
        r["digest"]
        for r in chunk_digests(
            docs.filter("doc_id < 25"), chunk_tokens=4
        ).collect()
    }
    want_prefixes = sorted({d[:2] for d in all_hist})[:3]
    got = {
        r["digest"]
        for r in read_store_before(spark, store, 1, want_prefixes).collect()
    }
    assert got == {d for d in all_hist if d[:2] in want_prefixes}
    assert got and got != all_hist  # the filter actually cut something

    # (b) the plan prunes partitions: dp rides PartitionFilters and the
    # pruned scan READS fewer files than the unpruned one (the scan
    # node's numFiles metric after execution — inputFiles() lists the
    # whole dataset pre-pruning, useless here).
    def files_read(df) -> int:
        df.collect()  # count() would plan a SEPARATE execution;
        # metrics live on the plan instance that actually ran.
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        return sum(
            int(m.apply("numFiles").value())
            for i in range(leaves.size())
            for m in [leaves.apply(i).metrics()]
            if m.contains("numFiles")
        )

    pruned = read_store_before(spark, store, 1, want_prefixes)
    full = read_store_before(spark, store, 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dp#" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    n_pruned, n_full = files_read(pruned), files_read(full)
    assert 0 < n_pruned < n_full, (n_pruned, n_full)


def test_ingest_probe_keeps_dp_less_legacy_history(spark, tmp_path):
    """ADVICE r11 (medium): a digest store written BEFORE the dp column
    existed (flat batch_id=<n>/ dirs, no dp= buckets) reads back with
    dp=NULL under the pinned STORE_SCHEMA. The prefix filter must treat
    NULL dp as ALWAYS matching — `isin` alone evaluates NULL to NULL
    (filtered out), which silently dropped the ENTIRE legacy history:
    the probe reported zero committed digests and chunk dedup was
    skipped with intact row counts. Pins: (a) legacy rows survive a
    prefix-filtered probe in full, (b) the pre-dp rows carry dp as a
    plain NULL data column (not a partition), so dp stays usable, and
    (c) a MIXED layout (legacy flat batch + dp-bucketed batch in one
    store) fails LOUDLY — Spark refuses conflicting partition layouts
    (CONFLICTING_PARTITION_COLUMN_NAMES) rather than silently merging;
    the migration path is compact_sink(partition_by=['dp']), after
    which the version dir is uniformly bucketed."""
    import pytest as _pytest

    from usgs_lidar_spark.streaming.ingest import read_store_before

    legacy = ["a" * 64, "b" * 64, "c" * 64]
    spark.createDataFrame(
        [(d,) for d in legacy], "digest string"
    ).write.parquet(str(tmp_path / "store" / "batch_id=0"))
    store = str(tmp_path / "store")

    # (a) a prefix set matching NONE of the legacy digests still sees
    # all of them (dp is NULL, not a real bucket).
    got = {
        r["digest"]
        for r in read_store_before(spark, store, 1, ["ff"]).collect()
    }
    assert got == set(legacy), got
    # ... and an unfiltered probe agrees (the filter added nothing).
    assert {
        r["digest"] for r in read_store_before(spark, store, 1).collect()
    } == set(legacy)

    # (c) mixed layouts are a loud error, not silent rot.
    spark.createDataFrame(
        [("d" * 64, "dd")], "digest string, dp string"
    ).write.partitionBy("dp").parquet(str(tmp_path / "store" / "batch_id=1"))
    from pyspark.errors import PySparkException

    with _pytest.raises(PySparkException, match="CONFLICTING_PARTITION"):
        read_store_before(spark, store, 2, ["dd"]).collect()


@STORE_ROOTS
def test_ingest_store_compaction_preserves_probe(spark, tmp_path, as_root):
    """Round 11: compacting the digest store's sealed batches
    (compact_sink, partition_by=['dp']) is INVISIBLE to the probe —
    read_store_before returns the identical digest set before and after
    compaction (via the manifest branch; a plain recursive read would
    silently skip the underscore `_compacted/` dir and lose all
    compacted history), a replayed batch still rewrites identical
    output, and a manifest covering a still-replayable batch fails
    loudly instead of recreating the self-dedup bug."""
    from usgs_lidar_spark.streaming.compact import compact_sink
    from usgs_lidar_spark.streaming.ingest import (
        chunk_dedup_ingest_writer,
        read_store_before,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    store = as_root(tmp_path / "digest_store")
    out = str(tmp_path / "deduped_out")
    ingest = chunk_dedup_ingest_writer(store, out, chunk_tokens=4)
    ingest(docs.filter("doc_id < 17"), 0)
    ingest(docs.filter("doc_id >= 17 AND doc_id < 34"), 1)
    ingest(docs.filter("doc_id >= 34"), 2)

    def probe(batch_id, prefixes=None):
        return sorted(
            r["digest"]
            for r in read_store_before(
                spark, store, batch_id, prefixes
            ).collect()
        )

    before_all = probe(2)
    some_prefixes = sorted({d[:2] for d in before_all})[:4]
    before_pruned = probe(2, some_prefixes)
    assert before_pruned and before_pruned != before_all

    # Compact batches 0-1 (sealed); batch 2 may still replay.
    res = compact_sink(spark, store, up_to_batch=1, partition_by=["dp"])
    assert res is not None
    assert not (tmp_path / "digest_store" / "batch_id=0").exists()

    assert probe(2) == before_all
    assert probe(2, some_prefixes) == before_pruned

    # Replay of batch 2 against the compacted store: identical bytes.
    first = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in spark.read.parquet(f"{out}/batch_id=2").collect()
    }
    ingest(docs.filter("doc_id >= 34"), 2)
    replayed = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in spark.read.parquet(f"{out}/batch_id=2").collect()
    }
    assert replayed == first and any(v[1] > 0 for v in replayed.values())

    # Round 16: a SECOND (minor) compaction folds batch 2 into a new
    # LEVEL — the probe now unions the level set and stays identical,
    # and the strictly-older filter still cuts ACROSS levels.
    full_before = probe(3)
    full_pruned = probe(3, some_prefixes)
    res2 = compact_sink(spark, store, up_to_batch=2, partition_by=["dp"])
    assert [lv["dir"] for lv in res2["levels"]] == ["v1", "v2"]
    assert probe(3) == full_before
    assert probe(3, some_prefixes) == full_pruned

    # A manifest covering a replayable batch is a loud error.
    with pytest.raises(ValueError, match="compacted through"):
        read_store_before(spark, store, 2)


def test_streaming_chunk_dedup_ingest_pack_exactly_once(spark, tmp_path):
    """The v6 ingest composition under the WORST crash window: the
    versioned-store foreachBatch ingest (streaming/ingest.py) dies
    AFTER batch 1's output AND digest-store writes but BEFORE the
    checkpoint commit; the restart replays batch 1 — which must probe
    only batch 0's digests (its own published partition is excluded by
    the batch_id < n read), rewrite identical bytes, and continue. The
    drained output, packed, must equal the registered batch query
    `pipe_end_to_end_v6` bit-for-bit.

    This is exactly the failure the versioned store exists for: a flat
    append-only store would make the replayed batch dedup against its
    own digests and emit n_kept=0 for every doc — silently, since row
    counts still match. The test also pins that trap stays closed: the
    replayed batch-1 rows must equal their first-attempt values, not
    degrade.
    """
    import shutil as _sh

    from pyspark.sql import functions as F

    from usgs_lidar_spark.functions.textstats import token_count
    from usgs_lidar_spark.operators.pipeline import pack_sequences
    from usgs_lidar_spark.streaming.ingest import chunk_dedup_ingest_writer

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "digest_store")
    out = str(tmp_path / "deduped_out")
    stream_dir = tmp_path / "stream_src"
    stream_dir.mkdir()
    # three ordered micro-batch files (monotone ids across batches, an
    # ingest's arrival order — makes incremental == global election)
    splits = ("doc_id < 17", "doc_id >= 17 AND doc_id < 34", "doc_id >= 34")
    for i, flt in enumerate(splits):
        docs.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"b{i}")
        )
        src = next((tmp_path / f"b{i}").glob("*.parquet"))
        _sh.copy(src, stream_dir / f"part-{i}.parquet")

    inner = chunk_dedup_ingest_writer(store, out, chunk_tokens=4)
    crash_marker = tmp_path / "crashed_once"

    def crashing_ingest(batch, batch_id):
        inner(batch, batch_id)  # both sink writes SUCCEED...
        if batch_id == 1 and not crash_marker.exists():
            crash_marker.write_text("boom")
            raise RuntimeError("injected crash after writes, before commit")

    def start():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
            .writeStream.foreachBatch(crashing_ingest)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(Exception, match="injected crash"):
        start().awaitTermination()
    assert crash_marker.exists()
    # The crash window is real: batch 1's digests ARE in the store
    # (what a flat-store replay would wrongly dedup against) and its
    # output rows are on disk but uncommitted.
    first_attempt = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in spark.read.parquet(f"{out}/batch_id=1").collect()
    }
    assert first_attempt  # written before the crash

    start().awaitTermination()  # restart from the same checkpoint

    # Replay rewrote batch 1 with IDENTICAL content (not n_kept=0 rot).
    replayed = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in spark.read.parquet(f"{out}/batch_id=1").collect()
    }
    assert replayed == first_attempt
    assert any(v[1] > 0 for v in replayed.values())

    # Drained union == one-shot batch dedup over the whole corpus.
    from usgs_lidar_spark.operators.dedup import chunk_dedup_docs

    want = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in chunk_dedup_docs(docs, chunk_tokens=4).collect()
    }
    streamed = spark.read.parquet(out).select(
        "doc_id", "n_chunks", "n_kept", "new_text"
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in streamed.collect()
    }
    assert got == want

    # ...and the PACKED composition equals the registered v6 query
    # (same dedup -> filter -> pack_sequences parameters).
    packed_stream = pack_sequences(
        streamed.filter(F.col("n_kept") > 0).select(
            "doc_id", "n_chunks", "n_kept", "new_text"
        ),
        "doc_id",
        token_count("new_text"),
        budget=512,
        n_streams=8,
    ).select(
        "doc_id", "n_chunks", "n_kept", "pack_stream", "n_tokens",
        "token_start", "pack_id", "pack_offset", "split_across",
    )
    want_packed = canonical_rows(
        QUERIES["pipe_end_to_end_v6"](spark, SF_SMALL).toPandas()
    )
    assert canonical_rows(packed_stream.toPandas()) == want_packed


def test_streaming_funnel_state_machine_matches_batch(spark, tmp_path):
    """The applyInPandasWithState funnel state machine, fed two
    TIME-ORDERED micro-batches, lands every user on the same final
    stage as the batch events_funnel_ordered query (max stage per user
    from the update-mode emissions; stage is monotone so the max IS
    the final state)."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.streaming.stateful import track_funnel_stage

    ev = load_table(spark, SF_SMALL, "events")
    cut = ev.agg(
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")
    ).collect()[0][0]
    stream_dir = tmp_path / "funnel_stream"
    stream_dir.mkdir()
    for i, flt in enumerate(
        (
            F.expr("unix_micros(cast(ts as timestamp))") <= cut,
            F.expr("unix_micros(cast(ts as timestamp))") > cut,
        )
    ):
        ev.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"fb{i}")
        )
        _sh.copy(
            next((tmp_path / f"fb{i}").glob("*.parquet")),
            stream_dir / f"part-{i}.parquet",
        )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = (
        track_funnel_stage(stream)
        .writeStream.format("memory")
        .queryName("t_funnel_sm")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {
        r["user_id"]: r["stage"]
        for r in spark.sql(
            "SELECT user_id, max(stage) AS stage FROM t_funnel_sm GROUP BY user_id"
        ).collect()
    }

    batch = {
        r["stage"]: r["n_users"]
        for r in QUERIES["events_funnel_ordered"](spark, SF_SMALL).collect()
    }
    from collections import Counter

    reached = Counter(final.values())
    # stream counts users AT stage s; batch counts users REACHING stage s
    got = {
        s: sum(n for st, n in reached.items() if st >= s) for s in (1, 2, 3)
    }
    assert got == {1: batch[1], 2: batch[2], 3: batch[3]}


def test_streaming_gram_store_maintenance(spark, tmp_path):
    """foreachBatch Gram maintenance: streamed micro-batch appends of
    additive moment partials leave the aggregated store identical to a
    from-scratch build over the full corpus — no sidecar, no
    read-modify-write, so replay risk is bounded to duplicate partials
    (the append-only contract)."""
    import shutil as _sh

    from usgs_lidar_spark.operators.linalg import (
        append_to_gram_store,
        read_gram_store,
        write_gram_store,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "gram_stream")
    write_gram_store(emb.filter("vec_id < 250"), path)

    stream_dir = tmp_path / "gram_src"
    stream_dir.mkdir()
    emb.filter("vec_id >= 250").coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "tail")
    )
    _sh.copy(
        next((tmp_path / "tail").glob("*.parquet")),
        stream_dir / "part-0.parquet",
    )
    q = (
        spark.readStream.schema(emb.schema)
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(
            lambda batch, _id: append_to_gram_store(batch, path)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rebuilt = str(tmp_path / "gram_full")
    write_gram_store(emb, rebuilt)
    a = sorted(map(tuple, read_gram_store(spark, path).collect()))
    b = sorted(map(tuple, read_gram_store(spark, rebuilt).collect()))
    assert a == b


def test_streaming_semantic_decon_ingest(spark, tmp_path):
    """Incremental semantic decon (round 14): draining the corpus
    through `semantic_decon_ingest_writer` in micro-batches — INCLUDING
    a crash replay in the write→commit window — must reproduce the
    one-shot `semantic_contamination` flags bit-for-bit (flags are
    per-corpus-row pure functions of a fixed benchmark, so batches
    share no state and a replay rewrites identical bytes). Composing
    the drained flags with the drained chunk-dedup ingest and packing
    must then equal the registered batch twin `pipe_end_to_end_v8`
    exactly — the streaming composition under the same hard oracle."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from usgs_lidar_spark.functions.textstats import token_count
    from usgs_lidar_spark.operators.pipeline import pack_sequences
    from usgs_lidar_spark.operators.similarity import semantic_contamination
    from usgs_lidar_spark.plans.queries import QUERIES
    from usgs_lidar_spark.streaming.ingest import (
        chunk_dedup_ingest_writer,
        semantic_decon_ingest_writer,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    bench = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.transform(
            "embedding", lambda x: (x * F.lit(1.25)).cast("float")
        ).alias("embedding")
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 48).collect()
    ]
    stream_dir = tmp_path / "emb_stream"
    stream_dir.mkdir()
    splits = (
        "vec_id < 170", "vec_id >= 170 AND vec_id < 340", "vec_id >= 340"
    )
    for i, flt in enumerate(splits):
        emb.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"eb{i}")
        )
        src = next((tmp_path / f"eb{i}").glob("*.parquet"))
        _sh.copy(src, stream_dir / f"part-{i}.parquet")

    out = str(tmp_path / "decon_out")
    inner = semantic_decon_ingest_writer(bench, cents, out, threshold=0.99)
    crash_marker = tmp_path / "decon_crashed_once"

    def crashing(batch, batch_id):
        inner(batch, batch_id)  # the flag write SUCCEEDS...
        if batch_id == 1 and not crash_marker.exists():
            crash_marker.write_text("boom")
            raise RuntimeError("injected crash after write, before commit")

    def start():
        return (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
            .writeStream.foreachBatch(crashing)
            .option("checkpointLocation", str(tmp_path / "decon_ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    try:
        q.awaitTermination()
        raise AssertionError("expected the injected crash")
    except Exception:
        pass
    start().awaitTermination()  # restart replays batch 1, then drains

    drained = spark.read.parquet(out).select(
        "vec_id", "cid", "n_hits", "contaminated"
    )
    oneshot = semantic_contamination(emb, bench, cents, threshold=0.99)
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cid"], r["n_hits"], r["contaminated"])
        for r in df.collect()
    )
    assert key(drained) == key(oneshot)

    # compose: drained chunk-dedup ingest + drained decon flags + pack
    # == the registered batch twin, bit-for-bit.
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    doc_stream = tmp_path / "doc_stream"
    doc_stream.mkdir()
    dsplits = ("doc_id < 170", "doc_id >= 170 AND doc_id < 340",
               "doc_id >= 340")
    for i, flt in enumerate(dsplits):
        docs.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"db{i}")
        )
        src = next((tmp_path / f"db{i}").glob("*.parquet"))
        _sh.copy(src, doc_stream / f"part-{i}.parquet")
    ded_out = str(tmp_path / "ded_out")
    (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(doc_stream))
        .writeStream.foreachBatch(
            chunk_dedup_ingest_writer(
                str(tmp_path / "ded_store"), ded_out, chunk_tokens=4
            )
        )
        .option("checkpointLocation", str(tmp_path / "ded_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    ded = spark.read.parquet(ded_out).filter(F.col("n_kept") > 0)
    flagged = drained.filter("contaminated").select(
        F.col("vec_id").alias("doc_id")
    )
    clean = ded.join(flagged, "doc_id", "left_anti")
    composed = pack_sequences(
        clean.select("doc_id", "n_chunks", "n_kept", "new_text"),
        "doc_id",
        token_count("new_text"),
        budget=512,
        n_streams=8,
    ).select(
        "doc_id", "n_chunks", "n_kept", "pack_stream", "n_tokens",
        "token_start", "pack_id", "pack_offset", "split_across",
    )
    batch_twin = QUERIES["pipe_end_to_end_v8"](spark, SF_SMALL)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(composed) == rows(batch_twin)


def test_streaming_media_neardup_ingest(spark, tmp_path):
    """Incremental perceptual media near-dup (round 14): draining media
    through `media_neardup_ingest_writer` in micro-batches — each batch
    dHashed, paired against committed history through the prefix-pruned
    band index, folded in with incremental CC — must reproduce the
    ONE-SHOT collapse_clusters over the full corpus bit-for-bit,
    INCLUDING a crash replay in the write→commit window (the replayed
    batch must consult only strictly-older store/labels partitions —
    its own crashed outputs are directory-excluded). The fixture plants
    near-dups both inside batches and ACROSS them (perturbed re-uploads
    arrive two batches after their originals)."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from usgs_lidar_spark.multimodal import (
        fake_dhash_image,
        near_dup_media_by_dhash,
        to_media_table,
    )
    from usgs_lidar_spark.operators.graph import collapse_clusters
    from usgs_lidar_spark.streaming.media_ingest import (
        media_neardup_ingest_writer,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    n = F.length("text")
    reup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, F.floor(n / 2).cast("int")),
            F.lit("~"),
            F.expr("substring(text, CAST(length(text) / 2 AS INT) + 2)"),
        ).alias("text"),
    )
    media = to_media_table(
        d.select("doc_id", "text").unionByName(reup), "doc_id", "text"
    ).select("media_id", "content")
    stream_dir = tmp_path / "media_stream"
    stream_dir.mkdir()
    splits = (
        "media_id < 170",
        "media_id >= 170 AND media_id < 340",
        "media_id >= 340",  # originals' tail + ALL re-uploads
    )
    for i, flt in enumerate(splits):
        media.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"mb{i}")
        )
        src = next((tmp_path / f"mb{i}").glob("*.parquet"))
        _sh.copy(src, stream_dir / f"part-{i}.parquet")

    store = str(tmp_path / "band_store")
    labels = str(tmp_path / "labels")
    inner = media_neardup_ingest_writer(store, labels, max_hamming=3)
    crash_marker = tmp_path / "media_crashed_once"

    def crashing(batch, batch_id):
        inner(batch, batch_id)  # BOTH state writes succeed...
        if batch_id == 1 and not crash_marker.exists():
            crash_marker.write_text("boom")
            raise RuntimeError("injected crash after writes, before commit")

    def start():
        return (
            spark.readStream.schema(media.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
            .writeStream.foreachBatch(crashing)
            .option("checkpointLocation", str(tmp_path / "media_ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    try:
        q.awaitTermination()
        raise AssertionError("expected the injected crash")
    except Exception:
        pass
    start().awaitTermination()  # replays batch 1, then drains batch 2

    from pathlib import Path

    sealed = sorted(
        int(p.name.split("=")[1])
        for p in Path(labels).glob("batch_id=*")
    )
    assert sealed == [0, 1, 2]
    drained = {
        (r["id"], r["label"])
        for r in spark.read.parquet(
            f"{labels}/batch_id={sealed[-1]}"
        ).collect()
    }
    oneshot = collapse_clusters(
        media.select("media_id"),
        near_dup_media_by_dhash(fake_dhash_image(media), max_hamming=3),
        id_col="media_id", pair_a="id_a", pair_b="id_b",
    )
    want = {
        (r["media_id"], r["cluster_id"]) for r in oneshot.collect()
    }
    assert drained == want
    # the cross-batch merges actually happened: at least one re-upload
    # (arriving in batch 2) carries its batch-0 original's label
    assert any(mid >= 100000 and lab < 170 for mid, lab in drained)


def _tiny_media(spark, texts: dict[int, str]):
    from usgs_lidar_spark.multimodal import to_media_table

    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    return to_media_table(df, "doc_id", "text").select("media_id", "content")


def test_media_ingest_dp_meta_lifecycle(spark, tmp_path):
    """dp_buckets is part of the store's on-disk layout (ADVICE r14):
    the resolved value must be PERSISTED on first write, derived from
    the first batch when not given (max(1, rows // 4096) — never the
    measured small-file-storm constant), validated on every later open
    (raise on conflict, both in the writer and in a prefix-pruned
    direct read), forwarded by the stream runner, and loudly warned
    about when an explicit value lands in the storm regime."""
    from usgs_lidar_spark.streaming.media_ingest import (
        media_neardup_ingest_writer,
        read_dp_buckets,
        read_hash_store_before,
        run_media_neardup_ingest,
    )

    texts = {
        i: "".join(chr(97 + (i * 7 + j * j) % 26) for j in range(240))
        for i in range(20)
    }
    media = _tiny_media(spark, texts)
    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")

    # Fresh store, no explicit knob: derive from the first batch.
    media_neardup_ingest_writer(store, labels)(media, 0)
    assert read_dp_buckets(spark, store) == 1  # max(1, 20 // 4096)

    # Reopen with a CONFLICTING explicit value: loud layout error.
    with pytest.raises(ValueError, match="dp_buckets mismatch"):
        media_neardup_ingest_writer(store, labels, dp_buckets=8)(media, 1)
    # Prefix-pruned direct read under the wrong bucket count: same.
    with pytest.raises(ValueError, match="dp_buckets mismatch"):
        read_hash_store_before(spark, store, 1, ["0"], dp_buckets=8)
    # Matching explicit value (and prefix read) both fine.
    read_hash_store_before(spark, store, 1, ["0"], dp_buckets=1)
    media_neardup_ingest_writer(store, labels, dp_buckets=1)(media, 1)

    # Explicit storm-regime value on a FRESH store warns loudly.
    with pytest.warns(UserWarning, match="small-file"):
        media_neardup_ingest_writer(
            str(tmp_path / "store2"), str(tmp_path / "labels2"),
            dp_buckets=256,
        )(media, 0)

    # The stream runner forwards the knob (ADVICE r14: it used to lock
    # every store to the old default).
    sdir = tmp_path / "mstream"
    sdir.mkdir()
    media.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "mb"))
    shutil.copy(
        next((tmp_path / "mb").glob("*.parquet")), sdir / "part-0.parquet"
    )
    run_media_neardup_ingest(
        spark.readStream.schema(media.schema).parquet(str(sdir)),
        str(tmp_path / "store3"),
        str(tmp_path / "labels3"),
        str(tmp_path / "ckpt3"),
        dp_buckets=2,
    )
    assert read_dp_buckets(spark, str(tmp_path / "store3")) == 2


def test_media_ingest_legacy_store_adoption(spark, tmp_path):
    """A PRE-METADATA store (sealed batches, no ``_dp_buckets`` file —
    created before the layout metadata existed) must never get a NEW
    bucket count silently derived from the current batch (ADVICE r15
    medium: history is bucketed under the old modulus, so the probe's
    dp prune would silently drop pairable history rows). Deriving
    raises; an explicit dp_buckets ADOPTS the store — persisted, no
    storm warning (it states a historical fact, not a sizing choice) —
    and cross-batch pairing against the legacy history still works."""
    import warnings
    from pathlib import Path

    from usgs_lidar_spark.streaming.media_ingest import (
        DP_META,
        media_neardup_ingest_writer,
        read_dp_buckets,
    )

    t1 = "abcdefgh" * 30
    t4 = t1[:120] + "~" + t1[121:]  # near-dup of t1
    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")
    writer = media_neardup_ingest_writer(store, labels, dp_buckets=3)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # 3 buckets for 1 row: storm, ok
        writer(_tiny_media(spark, {1: t1}), 0)
    # simulate the pre-metadata layout: history exists, metadata doesn't
    Path(store, DP_META).unlink()
    assert read_dp_buckets(spark, store) is None

    batch1 = _tiny_media(spark, {4: t4})
    with pytest.raises(ValueError, match="pre-metadata layout"):
        media_neardup_ingest_writer(store, labels)(batch1, 1)
    # explicit value adopts: persisted, storm-warning-free, history
    # pairable (record=True so unrelated Spark warnings can't fail this)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        media_neardup_ingest_writer(store, labels, dp_buckets=3)(batch1, 1)
    assert not [w for w in caught if "small-file" in str(w.message)]
    assert read_dp_buckets(spark, store) == 3
    got = dict(
        (r["id"], r["label"])
        for r in spark.read.parquet(f"{labels}/batch_id=1").collect()
    )
    assert got[4] == got[1]  # the legacy history row still pairs


def test_media_ingest_dp_meta_atomic_write(spark, tmp_path):
    """``_dp_buckets`` publishes via hidden tmp + rename (ADVICE r15):
    a crash mid-write must leave the final name ABSENT (the replayed
    first batch re-derives and self-heals), never truncated — a corrupt
    final file wedges the store because `_resolve_dp_buckets` only
    rewrites when the file is missing."""
    from pathlib import Path

    from usgs_lidar_spark.streaming.media_ingest import (
        DP_META,
        media_neardup_ingest_writer,
        read_dp_buckets,
    )

    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")
    # a crashed first attempt's partial tmp is overwritten by the replay
    Path(store).mkdir()
    Path(store, f".{DP_META}.tmp").write_text("garb")
    media_neardup_ingest_writer(store, labels)(
        _tiny_media(spark, {1: "abcdefgh" * 30}), 0
    )
    assert read_dp_buckets(spark, store) == 1
    assert not Path(store, f".{DP_META}.tmp").exists()  # renamed away
    # a truncated FINAL file still fails loudly on read (unchanged)
    Path(store, DP_META).write_text("")
    with pytest.raises(ValueError, match="corrupt dp_buckets"):
        read_dp_buckets(spark, store)


def test_media_compaction_auto_major(spark, tmp_path):
    """The leveled compaction escalates to MAJOR when a minor would
    push the live level count past ``max_levels`` — the LSM trigger
    that bounds both the probe's file listing and the amortized write
    volume. Three minors at max_levels=2: the third merges everything
    into one level; the probe view is identical throughout."""
    from usgs_lidar_spark.streaming.compact import list_sealed_batches
    from usgs_lidar_spark.streaming.media_ingest import (
        compact_media_store,
        media_neardup_ingest_writer,
        read_hash_store_before,
    )

    texts = {
        i: "".join(chr(97 + (i * 11 + j * 3) % 26) for j in range(240))
        for i in range(12)
    }
    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")
    writer = media_neardup_ingest_writer(store, labels)
    for b in range(6):
        writer(_tiny_media(spark, {i: texts[i] for i in range(2 * b, 2 * b + 2)}), b)
    view = lambda: sorted(  # noqa: E731
        map(tuple, read_hash_store_before(spark, store, 99).collect())
    )
    pre = view()
    m1 = compact_media_store(spark, store, up_to_batch=1, max_levels=2)
    assert [lv["dir"] for lv in m1["levels"]] == ["v1"]
    m2 = compact_media_store(spark, store, up_to_batch=3, max_levels=2)
    assert [lv["dir"] for lv in m2["levels"]] == ["v1", "v2"]
    assert view() == pre
    # third fold would make 3 levels > max_levels=2: auto-major
    m3 = compact_media_store(spark, store, up_to_batch=5, max_levels=2)
    assert [lv["dir"] for lv in m3["levels"]] == ["v3"]
    assert m3["max_batch_id"] == 5
    assert list_sealed_batches(spark, store) == []
    assert view() == pre


def test_media_ingest_duplicate_id_redelivery(spark, tmp_path):
    """At-least-once sources can RE-DELIVER a media_id in a later batch
    (checkpoint replay only covers same-batch retries; ADVICE r14).
    First delivery wins: the re-delivered id must keep exactly ONE
    label row (no conflicting duplicates in the published labeling),
    stay pairable as history, and the drained labeling must still
    equal the one-shot collapse over the DISTINCT corpus."""
    from usgs_lidar_spark.multimodal import (
        fake_dhash_image,
        near_dup_media_by_dhash,
    )
    from usgs_lidar_spark.operators.graph import collapse_clusters
    from usgs_lidar_spark.streaming.media_ingest import (
        media_neardup_ingest_writer,
    )

    t1 = "abcdefgh" * 30
    t2 = "".join(chr(97 + (j * 7) % 26) for j in range(240))
    t3 = "".join(chr(65 + (j * j) % 26) for j in range(240))
    t4 = t1[:120] + "~" + t1[121:]  # near-dup of t1 (one byte)
    media0 = _tiny_media(spark, {1: t1, 2: t2, 3: t3})
    # batch 1 re-delivers id 1 (same bytes, plus a byte-identical
    # in-batch duplicate row) alongside the new near-dup id 4
    media1 = _tiny_media(spark, {1: t1, 4: t4}).unionByName(
        _tiny_media(spark, {1: t1})
    )
    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")
    writer = media_neardup_ingest_writer(store, labels, max_hamming=3)
    writer(media0, 0)
    writer(media1, 1)

    got = sorted(
        (r["id"], r["label"])
        for r in spark.read.parquet(f"{labels}/batch_id=1").collect()
    )
    assert [i for i, _ in got] == [1, 2, 3, 4]  # one row per id
    labmap = dict(got)
    assert labmap[4] == labmap[1]  # cross-batch merge via history probe
    assert labmap[2] != labmap[1] and labmap[3] != labmap[1]

    distinct_media = _tiny_media(spark, {1: t1, 2: t2, 3: t3, 4: t4})
    oneshot = collapse_clusters(
        distinct_media.select("media_id"),
        near_dup_media_by_dhash(
            fake_dhash_image(distinct_media), max_hamming=3
        ),
        id_col="media_id", pair_a="id_a", pair_b="id_b",
    )
    want = sorted(
        (r["media_id"], r["cluster_id"]) for r in oneshot.collect()
    )
    assert got == want
    # the re-delivered rows also never re-enter the band index
    stored_ids = {
        r["media_id"]
        for r in spark.read.parquet(f"{store}/batch_id=1").select(
            "media_id"
        ).distinct().collect()
    }
    assert stored_ids == {4}


def test_media_store_compaction_and_vacuum(spark, tmp_path):
    """Lifecycle maintenance for the media ingest's versioned state
    (VERDICT r14 item 2): `compact_media_store` merges sealed band-index
    batch dirs into one dp-partitioned dataset behind a version-named
    manifest, `vacuum_media_labels` drops label versions no recovering
    stream can consult — and the compacted store must serve the probe a
    row-identical view (pinned pre/post), survive a crash replay, and
    yield a final labeling bit-identical to the one-shot collapse."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from usgs_lidar_spark.multimodal import (
        fake_dhash_image,
        near_dup_media_by_dhash,
        to_media_table,
    )
    from usgs_lidar_spark.operators.graph import collapse_clusters
    from usgs_lidar_spark.streaming.compact import list_sealed_batches
    from usgs_lidar_spark.streaming.media_ingest import (
        compact_media_store,
        media_neardup_ingest_writer,
        read_hash_store_before,
        vacuum_media_labels,
        vacuum_media_store,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    n = F.length("text")
    reup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, F.floor(n / 2).cast("int")),
            F.lit("~"),
            F.expr("substring(text, CAST(length(text) / 2 AS INT) + 2)"),
        ).alias("text"),
    )
    media = to_media_table(
        d.unionByName(reup), "doc_id", "text"
    ).select("media_id", "content")
    stream_dir = tmp_path / "ms"
    stream_dir.mkdir()
    # 6 batches: originals in 4 slices, then re-uploads in 2 slices —
    # cross-batch AND cross-compaction merges must happen.
    splits = [
        "media_id < 125", "media_id >= 125 AND media_id < 250",
        "media_id >= 250 AND media_id < 375",
        "media_id >= 375 AND media_id < 100000",
        "media_id >= 100000 AND media_id < 100250", "media_id >= 100250",
    ]
    for i, flt in enumerate(splits):
        media.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"b{i}")
        )
        shutil.copy(
            next((tmp_path / f"b{i}").glob("*.parquet")),
            stream_dir / f"part-{i}.parquet",
        )

    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")
    inner = media_neardup_ingest_writer(store, labels, max_hamming=3)
    crash_marker = tmp_path / "crashed_once"

    def crashing(batch, batch_id):
        inner(batch, batch_id)
        if batch_id == 4 and not crash_marker.exists():
            crash_marker.write_text("boom")
            raise RuntimeError("injected crash after writes, before commit")

    def drain():
        return (
            spark.readStream.schema(media.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
            .writeStream.foreachBatch(crashing)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    # Stage only the first 4 batch files, drain, then compact at the
    # committed frontier (batch 3).
    held = [stream_dir / f"part-{i}.parquet" for i in (4, 5)]
    parked = [tmp_path / f"held-{i}" for i in (4, 5)]
    for h, p in zip(held, parked):
        shutil.move(h, p)
    drain().awaitTermination()

    probe_rows = lambda: sorted(  # noqa: E731
        map(tuple, read_hash_store_before(spark, store, 99).collect())
    )
    pre = probe_rows()
    n_files_pre = len(list(Path(store).rglob("*.parquet")))
    m = compact_media_store(spark, store, up_to_batch=3)
    assert m == {
        "version": 1,
        "levels": [{"dir": "v1", "max_batch_id": 3}],
        "max_batch_id": 3,
        "n_source_batches": 4,
    }
    assert list_sealed_batches(spark, store) == []  # all merged
    assert probe_rows() == pre  # row-identical view through the manifest
    n_files_post = len(list(Path(store).rglob("*.parquet")))
    assert n_files_post < n_files_pre
    assert vacuum_media_labels(spark, labels, committed_batch_id=3) == 3
    assert list_sealed_batches(spark, labels) == [3]

    # Resume: batches 4 (crashes once, replays against the compacted
    # store) and 5.
    for h, p in zip(held, parked):
        shutil.move(p, h)
    q = drain()
    try:
        q.awaitTermination()
        raise AssertionError("expected the injected crash")
    except Exception:
        pass
    drain().awaitTermination()

    sealed = list_sealed_batches(spark, labels)
    assert sealed == [3, 4, 5]
    drained = sorted(
        (r["id"], r["label"])
        for r in spark.read.parquet(f"{labels}/batch_id=5").collect()
    )
    oneshot = collapse_clusters(
        media.select("media_id"),
        near_dup_media_by_dhash(fake_dhash_image(media), max_hamming=3),
        id_col="media_id", pair_a="id_a", pair_b="id_b",
    )
    want = sorted(
        (r["media_id"], r["cluster_id"]) for r in oneshot.collect()
    )
    assert drained == want
    # second compaction is a MINOR fold: batches 4-5 go into a NEW level
    # v2, level v1 stays on disk UNTOUCHED (O(tail) write, the round-16
    # leveling that removes the O(store) amplification)
    v1_files_pre = sorted(
        p.relative_to(store) for p in Path(store).rglob("v1/**/*.parquet")
    )
    m2 = compact_media_store(spark, store, up_to_batch=5)
    assert m2["version"] == 2 and m2["max_batch_id"] == 5
    assert [lv["dir"] for lv in m2["levels"]] == ["v1", "v2"]
    assert Path(store, "_compacted", "v1").is_dir()  # minor keeps v1
    assert v1_files_pre == sorted(
        p.relative_to(store) for p in Path(store).rglob("v1/**/*.parquet")
    )
    # the new level holds ONLY the tail batches' rows
    tail_rows = spark.read.parquet(f"{store}/_compacted/v2")
    assert tail_rows.select("batch_id").distinct().count() == 2
    # strictly-older filter still works against the leveled view:
    # probing AT batch 4 must see exactly the pre-4 history
    assert pre == sorted(
        map(tuple, read_hash_store_before(spark, store, 4).collect())
    )
    post2 = sorted(
        map(tuple, read_hash_store_before(spark, store, 99).collect())
    )
    assert len(post2) > len(pre)
    removed = vacuum_media_store(spark, store)
    assert removed["version_dirs"] == 0  # both levels are live
    # MAJOR compaction merges the level set into one dir and retires
    # the merged levels; the probe view is unchanged
    m3 = compact_media_store(spark, store, up_to_batch=5, major=True)
    assert m3["version"] == 3 and m3["max_batch_id"] == 5
    assert [lv["dir"] for lv in m3["levels"]] == ["v3"]
    assert not Path(store, "_compacted", "v1").exists()
    assert not Path(store, "_compacted", "v2").exists()
    assert post2 == sorted(
        map(tuple, read_hash_store_before(spark, store, 99).collect())
    )
    assert pre == sorted(
        map(tuple, read_hash_store_before(spark, store, 4).collect())
    )
    # a fully-merged store with no tail has nothing left to fold
    assert compact_media_store(spark, store, up_to_batch=5, major=True) is None
    # vacuum after a simulated crash-after-publish: recreate a covered
    # batch dir and an orphan RETIRED version dir — vacuum removes both —
    # plus an in-flight NEWER build dir (a concurrent compaction's v4),
    # which vacuum must SPARE (the ADVICE r15 race: deleting it would
    # kill that compaction at publish).
    (Path(store) / "batch_id=2").mkdir()
    (Path(store) / "_compacted" / "v1").mkdir()
    (Path(store) / "_compacted" / "v4").mkdir()
    removed = vacuum_media_store(spark, store)
    assert removed["batch_dirs"] == 1 and removed["version_dirs"] == 1
    assert Path(store, "_compacted", "v4").is_dir()  # in-flight spared
    (Path(store) / "_compacted" / "v4").rmdir()


def test_streaming_image_text_gate_ingest(spark, tmp_path):
    """Streaming image-text pair gating (round 15): draining paired
    (caption, image) embedding rows through `image_text_gate_ingest_
    writer` in micro-batches — crash replay included — must reproduce
    the one-shot batch gate (`mm_image_text_gate`'s operator) exactly:
    the verdict is a pure per-row function, so exactly-once falls out
    of purity + batch_id-keyed overwrite, no state store needed."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.multimodal import image_text_gate
    from usgs_lidar_spark.streaming.ingest import (
        image_text_gate_ingest_writer,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    img_eid = F.when(
        F.col("vec_id") % 3 == 0, F.col("vec_id") + 7
    ).otherwise(F.col("vec_id"))
    base = emb.select(
        F.col("vec_id").alias("pair_id"),
        F.col("embedding").alias("caption_embedding"),
        img_eid.alias("__img_eid"),
    )
    pairs = base.join(
        emb.select(
            F.col("vec_id").alias("__img_eid"),
            F.col("embedding").alias("image_embedding"),
        ),
        "__img_eid",
    ).drop("__img_eid")

    stream_dir = tmp_path / "pairs_stream"
    stream_dir.mkdir()
    for i, flt in enumerate(
        ["pair_id < 150", "pair_id >= 150 AND pair_id < 300",
         "pair_id >= 300"]
    ):
        pairs.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"pb{i}")
        )
        shutil.copy(
            next((tmp_path / f"pb{i}").glob("*.parquet")),
            stream_dir / f"part-{i}.parquet",
        )

    out = str(tmp_path / "gated")
    inner = image_text_gate_ingest_writer(out, threshold=0.9)
    crash_marker = tmp_path / "gate_crashed_once"

    def crashing(batch, batch_id):
        inner(batch, batch_id)
        if batch_id == 1 and not crash_marker.exists():
            crash_marker.write_text("boom")
            raise RuntimeError("injected crash after write, before commit")

    def drain():
        return (
            spark.readStream.schema(pairs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
            .writeStream.foreachBatch(crashing)
            .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = drain()
    try:
        q.awaitTermination()
        raise AssertionError("expected the injected crash")
    except Exception:
        pass
    drain().awaitTermination()

    drained = sorted(
        (r["pair_id"], r["clip_score"], r["kept"])
        for r in spark.read.parquet(out)
        .select("pair_id", "clip_score", "kept")
        .collect()
    )
    oneshot = sorted(
        (r["pair_id"], r["clip_score"], r["kept"])
        for r in image_text_gate(pairs, threshold=0.9)
        .select("pair_id", "clip_score", "kept")
        .collect()
    )
    assert drained == oneshot
    # the gate discriminates: aligned pairs kept at 1.0, misaligned
    # (every third id) dropped
    kept = {p: k for p, _, k in drained}
    assert kept[1] and kept[2] and not kept[0] and not kept[3]


def test_media_ingest_two_tier_semantic_verify(spark, tmp_path):
    """TWO-TIER streaming media ingest (round 15): with an embeddings
    snapshot supplied, every candidate pair — history probes included —
    must clear the cosine verify before merging, so a dHash-close but
    semantically-distinct re-upload arriving in a LATER batch stays a
    singleton, an embedding-less item never merges, and the drained
    labeling equals the one-shot two-tier composition
    (`semantic_verify_pairs` + `collapse_clusters`) bit-for-bit."""
    from usgs_lidar_spark.multimodal import (
        fake_dhash_image,
        near_dup_media_by_dhash,
        semantic_verify_pairs,
    )
    from usgs_lidar_spark.operators.graph import collapse_clusters
    from usgs_lidar_spark.streaming.media_ingest import (
        media_neardup_ingest_writer,
    )

    t1 = "abcdefgh" * 30
    t2 = "".join(chr(97 + (j * 7) % 26) for j in range(240))
    near1a = t1[:120] + "~" + t1[121:]
    near1b = t1[:60] + "~" + t1[61:]
    near2 = t2[:120] + "~" + t2[121:]
    texts = {1: t1, 2: t2, 3: near1a, 4: near1b, 5: near2}
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.5, 0.5]),
            (3, [1.0, 0.01]),   # same subject as 1 -> verifies
            (4, [0.0, 1.0]),    # dHash-close to 1, orthogonal -> rejected
            # 5: no embedding row -> strict verify drops its pairs
        ],
        "media_id bigint, embedding array<double>",
    )
    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")
    writer = media_neardup_ingest_writer(
        store, labels, max_hamming=3, embeddings=emb, verify_threshold=0.9
    )
    writer(_tiny_media(spark, {1: t1, 2: t2}), 0)
    writer(_tiny_media(spark, {3: near1a, 4: near1b, 5: near2}), 1)

    got = sorted(
        (r["id"], r["label"])
        for r in spark.read.parquet(f"{labels}/batch_id=1").collect()
    )
    labmap = dict(got)
    assert labmap[3] == labmap[1]          # verified cross-batch merge
    assert labmap[4] == 4 and labmap[5] == 5  # rejected / unembedded
    media = _tiny_media(spark, texts)
    oneshot = collapse_clusters(
        media.select("media_id"),
        semantic_verify_pairs(
            near_dup_media_by_dhash(fake_dhash_image(media), max_hamming=3),
            emb, threshold=0.9, id_col="media_id",
        ),
        id_col="media_id", pair_a="id_a", pair_b="id_b",
    )
    assert got == sorted(
        (r["media_id"], r["cluster_id"]) for r in oneshot.collect()
    )
    # sanity: WITHOUT the verify the rejected pair would have merged
    perceptual = collapse_clusters(
        media.select("media_id"),
        near_dup_media_by_dhash(fake_dhash_image(media), max_hamming=3),
        id_col="media_id", pair_a="id_a", pair_b="id_b",
    )
    pmap = {r["media_id"]: r["cluster_id"] for r in perceptual.collect()}
    assert pmap[4] == pmap[1] and pmap[5] == pmap[2]


def test_materialize_shards_matches_v9(spark, tmp_path):
    """The streaming->loader loop closes (round 15): draining the v9
    fixture's media through the TWO-TIER ingest and then cutting shards
    with `materialize_media_shards` (keepers -> image-text gate -> byte
    packing -> hive shard layout) must reproduce the registered batch
    composition `pipe_end_to_end_v9` row-for-row — the labeling is
    maintained incrementally, the training set is materialized from
    state + metadata at cut time."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.streaming.media_ingest import (
        materialize_media_shards,
        media_neardup_ingest_writer,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    n = F.length("text")
    reup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, F.floor(n / 2).cast("int")),
            F.lit("~"),
            F.expr("substring(text, CAST(length(text) / 2 AS INT) + 2)"),
        ).alias("text"),
    )
    from usgs_lidar_spark.multimodal import to_media_table

    media = to_media_table(
        d.unionByName(reup), "doc_id", "text"
    ).localCheckpoint()
    doc0 = F.col("media_id") - 100000
    eid = F.when(
        F.col("media_id") >= 100000,
        F.when(doc0 % 21 == 0, doc0 + 3).otherwise(doc0),
    ).otherwise(F.col("media_id"))
    emap = media.select("media_id", eid.alias("__eid"))
    verify_emb = emap.join(
        emb.select(F.col("vec_id").alias("__eid"), "embedding"), "__eid"
    ).select("media_id", "embedding").localCheckpoint()

    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")
    writer = media_neardup_ingest_writer(
        store, labels, max_hamming=3,
        embeddings=verify_emb, verify_threshold=0.9,
    )
    for i, flt in enumerate(
        ["media_id < 200", "media_id >= 200 AND media_id < 100000",
         "media_id >= 100000"]
    ):
        writer(media.filter(flt).select("media_id", "content"), i)

    img_eid = F.when(
        F.col("__eid") % 5 == 0, F.col("__eid") + 3
    ).otherwise(F.col("__eid"))
    media_meta = (
        media.select("media_id", "n_bytes")
        .join(emap, "media_id")
        .withColumn("__img_eid", img_eid)
        .join(
            emb.select(
                F.col("vec_id").alias("__eid"),
                F.col("embedding").alias("caption_embedding"),
            ),
            "__eid",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("__img_eid"),
                F.col("embedding").alias("image_embedding"),
            ),
            "__img_eid",
        )
        .select(
            "media_id", "n_bytes", "caption_embedding", "image_embedding"
        )
    )
    out = str(tmp_path / "shards")
    packed = materialize_media_shards(
        spark, labels, media_meta, out, budget=4096, n_streams=8,
        gate_threshold=0.9,
    )
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    v9 = QUERIES["pipe_end_to_end_v9"](spark, SF_SMALL).select(
        *packed.columns
    )
    assert rows(packed) == rows(v9)
    # the written layout is hive-partitioned by (pack_stream, shard_id)
    # and row-identical to the returned assignment
    back = spark.read.parquet(out).select(*packed.columns)
    assert rows(back) == rows(packed)
    from pathlib import Path

    assert any(
        p.name.startswith("pack_stream=") for p in Path(out).iterdir()
    )
    # empty labels dir raises loudly
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="no committed labeling"):
        materialize_media_shards(
            spark, str(tmp_path / "nolabels"), media_meta,
            str(tmp_path / "x"),
        )
    # a crashed-mid-write labels version (no _SUCCESS) is ignored: the
    # cut falls back to the newest COMPLETE labeling and still matches
    (Path(labels) / "batch_id=3").mkdir()  # partial dir, no marker
    packed2 = materialize_media_shards(
        spark, labels, media_meta, str(tmp_path / "shards2"),
        budget=4096, n_streams=8, gate_threshold=0.9,
    )
    assert rows(packed2) == rows(packed)
    # round 16 — the BYTE MOVER: payloads + payload_out writes one
    # assembled blob row per (pack_stream, shard_id), the dirs the
    # manifest addresses, each holding exactly the stream's byte slice
    blob_out = str(tmp_path / "shard_bytes")
    packed3 = materialize_media_shards(
        spark, labels, media_meta, str(tmp_path / "shards3"),
        budget=4096, n_streams=8, gate_threshold=0.9,
        payloads=media.select("media_id", "content"),
        payload_out=blob_out,
    )
    assert rows(packed3) == rows(packed)
    blobs = spark.read.parquet(blob_out)
    blob_map = {
        (r["pack_stream"], r["shard_id"]): bytes(r["shard_bytes"])
        for r in blobs.collect()
    }
    # blob dirs == manifest (stream, shard) set — including shards an
    # item's split tail lands in
    asg = packed.collect()
    want_shards = set()
    for r in asg:
        for k in range(
            r["shard_id"],
            (r["byte_start"] + r["n_bytes"] - 1) // 4096 + 1,
        ):
            want_shards.add((r["pack_stream"], k))
    assert set(blob_map) == want_shards
    # every shard holds <= budget bytes, and per stream the blobs
    # concatenate (in shard order) to the byte_start-ordered payload
    # concatenation of the stream's items
    payload = {
        r["media_id"]: bytes(r["content"])
        for r in media.select("media_id", "content").collect()
    }
    for s in {st for st, _ in blob_map}:
        items = sorted(
            (r["byte_start"], r["media_id"])
            for r in asg
            if r["pack_stream"] == s
        )
        want = b"".join(payload[m] for _, m in items)
        got = b"".join(
            blob_map[(s, k)]
            for k in sorted(k for st, k in blob_map if st == s)
        )
        assert got == want
    assert all(len(v) <= 4096 for v in blob_map.values())
    # passing one half of the byte-mover pair is a loud error
    with _pytest.raises(ValueError, match="must be passed together"):
        materialize_media_shards(
            spark, labels, media_meta, str(tmp_path / "x2"),
            payloads=media.select("media_id", "content"),
        )


def test_media_ingest_inline_compaction(spark, tmp_path):
    """`compact_every` (round 15): the ingest maintains its own state
    lifecycle — every Nth batch folds the committed store behind the
    manifest and vacuums unreachable label versions, inline, no
    external scheduler — and the drained labeling still equals the
    one-shot collapse. A replayed maintenance batch must be a no-op
    (manifest already covers its target; identical labels rewrite)."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.multimodal import (
        fake_dhash_image,
        near_dup_media_by_dhash,
        to_media_table,
    )
    from usgs_lidar_spark.operators.graph import collapse_clusters
    from usgs_lidar_spark.streaming.compact import (
        _read_store_manifest,
        list_sealed_batches,
    )
    from usgs_lidar_spark.streaming.media_ingest import (
        media_neardup_ingest_writer,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    n = F.length("text")
    reup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, F.floor(n / 2).cast("int")),
            F.lit("~"),
            F.expr("substring(text, CAST(length(text) / 2 AS INT) + 2)"),
        ).alias("text"),
    )
    media = to_media_table(
        d.unionByName(reup), "doc_id", "text"
    ).select("media_id", "content").localCheckpoint()
    splits = [
        "media_id < 100", "media_id >= 100 AND media_id < 200",
        "media_id >= 200 AND media_id < 300",
        "media_id >= 300 AND media_id < 400",
        "media_id >= 400 AND media_id < 100000", "media_id >= 100000",
    ]
    store, labels = str(tmp_path / "store"), str(tmp_path / "labels")
    writer = media_neardup_ingest_writer(
        store, labels, max_hamming=3, compact_every=2
    )
    batches = [media.filter(flt) for flt in splits]
    for i, b in enumerate(batches):
        writer(b, i)

    # batch 4 ran the last maintenance: manifest covers <= 3, labels
    # vacuumed to the newest version a recovering stream can consult
    m = _read_store_manifest(spark, store)
    assert m is not None and m["max_batch_id"] == 3
    assert list_sealed_batches(spark, store) == [4, 5]
    assert list_sealed_batches(spark, labels) == [3, 4, 5]

    drained = sorted(
        (r["id"], r["label"])
        for r in spark.read.parquet(f"{labels}/batch_id=5").collect()
    )
    oneshot = collapse_clusters(
        media.select("media_id"),
        near_dup_media_by_dhash(fake_dhash_image(media), max_hamming=3),
        id_col="media_id", pair_a="id_a", pair_b="id_b",
    )
    assert drained == sorted(
        (r["media_id"], r["cluster_id"]) for r in oneshot.collect()
    )

    # replay the last maintenance batch (4): labels rewrite identically,
    # compaction no-ops (same manifest version), nothing newer touched
    writer(batches[4], 4)
    m2 = _read_store_manifest(spark, store)
    assert m2 == m
    replayed = sorted(
        (r["id"], r["label"])
        for r in spark.read.parquet(f"{labels}/batch_id=4").collect()
    )
    assert {i for i, _ in replayed} == {
        r["media_id"]
        for r in media.filter("media_id < 100000").select(
            "media_id"
        ).collect()
    }


def test_streaming_minhash_decon_ingest(spark, tmp_path):
    """Incremental fuzzy (MinHash) decon (round 16): draining the
    corpus through `minhash_decon_ingest_writer` in micro-batches —
    including a crash replay in the write→commit window — must
    reproduce the one-shot `minhash_decon_pairs` against the same
    fixed benchmark bit-for-bit: cross-set pairs are pure per-corpus-
    row functions of the frozen benchmark (df-UNCAPPED signatures, no
    corpus-corpus pairing), so batches share no state and a replay
    rewrites identical bytes."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from usgs_lidar_spark.operators.dedup import minhash_decon_pairs
    from usgs_lidar_spark.streaming.ingest import minhash_decon_ingest_writer

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    corpus = docs.filter(F.col("doc_id") % 11 != 0)
    stream_dir = tmp_path / "fz_stream"
    stream_dir.mkdir()
    splits = ("doc_id < 170", "doc_id >= 170 AND doc_id < 340",
              "doc_id >= 340")
    for i, flt in enumerate(splits):
        corpus.filter(flt).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"fzb{i}")
        )
        src = next((tmp_path / f"fzb{i}").glob("*.parquet"))
        _sh.copy(src, stream_dir / f"part-{i}.parquet")

    out = str(tmp_path / "fz_out")
    inner = minhash_decon_ingest_writer(bench, out, threshold=0.6)
    crash_marker = tmp_path / "fz_crashed_once"

    def crashing(batch, batch_id):
        inner(batch, batch_id)  # the pair write SUCCEEDS...
        if batch_id == 1 and not crash_marker.exists():
            crash_marker.write_text("boom")
            raise RuntimeError("injected crash after write, before commit")

    def start():
        return (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
            .writeStream.foreachBatch(crashing)
            .option("checkpointLocation", str(tmp_path / "fz_ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    try:
        q.awaitTermination()
        raise AssertionError("expected the injected crash")
    except Exception:
        pass
    start().awaitTermination()  # restart replays batch 1, then drains

    drained = spark.read.parquet(out)
    oneshot = minhash_decon_pairs(corpus, bench, "text", "doc_id",
                                  threshold=0.6)
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["bench_id"], r["jaccard"]) for r in df.collect()
    )
    got, want = key(drained), key(oneshot)
    assert got == want and len(got) > 0
