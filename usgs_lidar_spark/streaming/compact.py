"""The versioned-store protocol of the streaming tier, stated once.

Every versioned store — the idempotent sink (`sink.py`), the chunk-digest
store (`ingest.py`), the media band index (`media_ingest.py`) and the
streaming rollup (`rollup_sink.py`) — keeps this layout under its root
(a local path or any URI Spark reads: ``file://``, ``hdfs://``,
``s3a://``):

  * ``batch_id=<n>/`` — one directory per micro-batch, written with
    overwrite, so a replayed batch rewrites its own directory;
  * ``_compacted/v<K>/`` — a LEVEL: the rows of many batches, with
    ``batch_id`` kept as a normal column so nothing loses provenance;
  * ``_compacted/MANIFEST-<K>.json`` — version K of the live level list,
    ``{"version", "levels": [{"dir", "max_batch_id"}], "max_batch_id",
    "n_source_batches"}``. Readers take the highest K. It is published
    by writing a hidden tmp file and renaming it to its fresh name:
    rename is atomic on HDFS and POSIX, and HDFS rename never
    overwrites, so every version gets its own file.

The consistent view (`live_view`) is the live levels plus the batch
directories newer than the manifest's ``max_batch_id`` (the tail). Tail
directories are chosen by directory NAME, so a crashed newer batch's
partial files are never opened.

`compact` folds sealed batches without stopping the stream. LEVELED,
LSM-style: a MINOR compaction (the default) writes only the tail into
one new level — O(tail) bytes, existing levels untouched. A MAJOR one
(``major=True``, or automatic when a minor would push the level count
past ``max_levels``) merges all levels and the tail into one dir, which
bounds both the reader's listing and the amortized write volume. Steps:

  1. read the tail batches ``covered < n <= up_to_batch`` (newer batches
     may still be replayed by a recovering stream and are never
     touched) and, for a major, the live levels;
  2. hand the union to the caller's ``write(df, vdir)``, which chooses
     only the physical layout, for ``vdir = _compacted/v<active+1>``;
  3. publish the new manifest;
  4. only then delete the folded batch dirs and merged level dirs.

Crash safety comes from that order. A crash before the publish leaves
an orphan ``v<K>`` that readers ignore and the next compaction
overwrites (it reuses K = active+1). A crash after it leaves covered
batch dirs that readers skip and retired levels outside the live set;
`vacuum` removes both, and SPARES version dirs newer than the active
manifest (a concurrent compaction's in-progress build). Maintenance is
single-maintainer per store; vacuum is safe at any time only because it
spares those newer builds.

All driver-side IO goes through the Hadoop FileSystem of the root's own
scheme. A local-only probe would read an HDFS/S3 store as empty and the
caller would rebuild state from one batch; listing failures other than
a missing root re-raise.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from usgs_lidar_spark.sources.stats_manifest import (
    MANIFEST_DIR,
    prune_files,
    write_stats_manifest,
)

COMPACTED = "_compacted"
_MANIFEST = "MANIFEST-"


def _jfs(spark, path: str):
    """(Hadoop FileSystem, Path, jvm) for ``path`` — the path's OWN
    filesystem (file://, hdfs://, s3a://...), not the local one."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    jfs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jfs, jpath, jvm


def _exists(spark, path: str) -> bool:
    jfs, jpath, _ = _jfs(spark, path)
    return bool(jfs.exists(jpath))


def _delete(spark, path: str) -> None:
    jfs, jpath, _ = _jfs(spark, path)
    jfs.delete(jpath, True)


def _read_text(spark, path: str) -> str | None:
    """The UTF-8 content of ``path``, or None when it does not exist."""
    jfs, jpath, _ = _jfs(spark, path)
    if not jfs.exists(jpath):
        return None
    stream = jfs.open(jpath)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _publish(spark, path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically: the complete content goes
    to a hidden tmp sibling first, then is renamed to ``path``, so the
    final name either does not exist or is complete. ``path`` must not
    exist yet (HDFS rename never overwrites)."""
    parent, name = path.rsplit("/", 1)
    jfs, final, jvm = _jfs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{parent}/.{name}.tmp")
    out = jfs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if not jfs.rename(tmp, final):
        raise OSError(f"could not publish {path}")


def list_sealed_batches(spark, root: str) -> list[int]:
    """Sorted batch ids of ``root``'s ``batch_id=<n>`` directories.
    Missing root reads as no batches; any OTHER listing failure
    re-raises loudly."""
    jfs, jpath, _ = _jfs(spark, root)
    if not jfs.exists(jpath):
        return []
    out: list[int] = []
    for st in jfs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            tail = name.split("=", 1)[1]
            if tail.isdigit():
                out.append(int(tail))
    return sorted(out)


def level_dir(root: str, name: str) -> str:
    return f"{root}/{COMPACTED}/{name}"


def _manifest_version(name: str) -> int | None:
    if name.startswith(_MANIFEST) and name.endswith(".json"):
        tail = name[len(_MANIFEST) : -len(".json")]
        if tail.isdigit():
            return int(tail)
    return None


def _read_store_manifest(spark, root: str) -> dict | None:
    """Highest-version manifest under ``root/_compacted``, or None when
    no compaction has published yet. A corrupt manifest re-raises."""
    comp = f"{root}/{COMPACTED}"
    jfs, jcomp, _ = _jfs(spark, comp)
    if not jfs.exists(jcomp):
        return None
    versions = [
        v
        for st in jfs.listStatus(jcomp)
        if st.isFile()
        and (v := _manifest_version(st.getPath().getName())) is not None
    ]
    if not versions:
        return None
    latest = f"{comp}/{_MANIFEST}{max(versions)}.json"
    return json.loads(_read_text(spark, latest))


def _write_store_manifest(spark, root: str, manifest: dict) -> None:
    name = f"{_MANIFEST}{int(manifest['version'])}.json"
    _publish(spark, f"{root}/{COMPACTED}/{name}", json.dumps(manifest))


def _levels(manifest: dict | None) -> list[dict]:
    """The live level list, oldest first."""
    return manifest["levels"] if manifest else []


def _scan(spark, paths: list[str], schema: str | None, base=None):
    reader = spark.read
    if base is not None:
        # keeps batch_id, a partition column of the batch dirs, in the scan
        reader = reader.option("basePath", base)
    if schema is not None:
        # pinned schema: no inference, no footer of a pruned dir opened
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def _tail(spark, root: str, covered: int, before: int | None) -> list[int]:
    return [
        b
        for b in list_sealed_batches(spark, root)
        if covered < b and (before is None or b < before)
    ]


def _view(spark, root, read_level, schema=None, before=None):
    manifest = _read_store_manifest(spark, root)
    covered = manifest["max_batch_id"] if manifest else -1
    parts = [
        read_level(level_dir(root, lv["dir"])) for lv in _levels(manifest)
    ]
    tail = _tail(spark, root, covered, before)
    if tail:
        batches = [f"{root}/batch_id={b}" for b in tail]
        parts.append(_scan(spark, batches, schema, root))
    if not parts:
        return None
    view = reduce(DataFrame.unionByName, parts)
    return view if before is None else view.filter(F.col("batch_id") < before)


def live_view(
    spark, root: str, schema: str | None = None, before: int | None = None
) -> DataFrame | None:
    """The store's consistent view — live levels plus the tail — or
    None for a store with neither. ``before`` restricts it to batches
    strictly older than ``before``: tail dirs by name, levels by their
    ``batch_id`` column. ``schema`` pins every read."""
    return _view(
        spark, root, lambda vdir: _scan(spark, [vdir], schema), schema, before
    )


def compact(
    spark,
    root: str,
    up_to_batch: int | None,
    write,
    schema: str | None = None,
    major: bool = False,
    max_levels: int = 8,
) -> dict | None:
    """Fold the sealed tail (``covered < n <= up_to_batch``; None = all
    present) into a new level — and, for a major, merge the live levels
    too — via ``write(df, vdir)``, then publish the manifest and delete
    the folded inputs (see the module docstring). Returns the new
    manifest, or None when there is nothing to do."""
    if int(max_levels) < 1:
        raise ValueError(f"max_levels must be >= 1, got {max_levels}")
    manifest = _read_store_manifest(spark, root)
    levels = _levels(manifest)
    covered = manifest["max_batch_id"] if manifest else -1
    before = None if up_to_batch is None else int(up_to_batch) + 1
    todo = _tail(spark, root, covered, before)
    major = bool(major) or (len(levels) + 1 > int(max_levels))
    if not todo and not (major and len(levels) > 1):
        return None  # nothing to fold (a 1-level major is already major)
    merged = levels if major else []
    parts = [
        _scan(spark, [level_dir(root, lv["dir"])], schema) for lv in merged
    ]
    if todo:
        batches = [f"{root}/batch_id={b}" for b in todo]
        parts.insert(0, _scan(spark, batches, schema, root))
    version = (manifest["version"] + 1) if manifest else 1
    vdir = f"v{version}"
    write(reduce(DataFrame.unionByName, parts), level_dir(root, vdir))
    new_max = max(todo) if todo else covered
    new_manifest = {
        "version": version,
        "levels": ([] if major else levels)
        + [{"dir": vdir, "max_batch_id": new_max}],
        "max_batch_id": new_max,
        "n_source_batches": len(todo)
        + (manifest["n_source_batches"] if manifest else 0),
    }
    _write_store_manifest(spark, root, new_manifest)
    # Post-publish cleanup (a crash here leaves garbage `vacuum` removes).
    for b in todo:
        _delete(spark, f"{root}/batch_id={b}")
    for lv in merged:
        _delete(spark, level_dir(root, lv["dir"]))
    return new_manifest


def vacuum(spark, root: str) -> dict:
    """Remove what the protocol can leave behind after a crash: batch
    dirs the manifest covers, retired ``v<J>`` dirs outside the live set
    with J <= the active version, older manifests and stale manifest tmp
    files. Version dirs NEWER than the active manifest are spared (a
    concurrent compaction's in-progress build); a crashed build's orphan
    at active+1 is overwritten by the next compaction instead. No
    manifest means nothing is superseded yet. Everything removed is
    unreachable through `live_view`. Returns counts of what was
    removed."""
    manifest = _read_store_manifest(spark, root)
    removed = {"batch_dirs": 0, "version_dirs": 0, "manifests": 0, "tmp": 0}
    if manifest is None:
        return removed
    for b in list_sealed_batches(spark, root):
        if b <= manifest["max_batch_id"]:
            _delete(spark, f"{root}/batch_id={b}")
            removed["batch_dirs"] += 1
    live = {lv["dir"] for lv in _levels(manifest)}
    jfs, jcomp, _ = _jfs(spark, f"{root}/{COMPACTED}")
    for st in jfs.listStatus(jcomp):
        name = st.getPath().getName()
        if st.isDirectory() and name not in live:
            tail = name[1:] if name.startswith("v") else ""
            if tail.isdigit() and int(tail) <= manifest["version"]:
                jfs.delete(st.getPath(), True)
                removed["version_dirs"] += 1
        elif st.isFile() and name.startswith(f".{_MANIFEST}"):
            jfs.delete(st.getPath(), False)
            removed["tmp"] += 1
        elif (
            st.isFile()
            and (v := _manifest_version(name)) is not None
            and v < manifest["version"]
        ):
            jfs.delete(st.getPath(), False)
            removed["manifests"] += 1
    return removed


# ---------------------------------------------------------------------------
# The idempotent sink (`sink.idempotent_parquet_writer`'s batch_id dirs).
# ---------------------------------------------------------------------------


def compact_sink(
    spark: SparkSession,
    sink_path: str,
    up_to_batch: int | None = None,
    target_partitions: int | None = 1,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    stats_columns: list[str] | None = None,
    major: bool = False,
    max_levels: int = 8,
) -> dict | None:
    """Fold sealed ``batch_id`` directories into a compacted level and
    publish it via the manifest. Returns the new manifest, or None when
    there is nothing to compact.

    ``up_to_batch``: highest batch id considered sealed (default: all
    present). Leave headroom below the stream's current batch when the
    stream is live — a recovering stream may legitimately rewrite its
    LAST uncommitted batch directory, never older ones.
    ``target_partitions``: repartition width of the compacted write (the
    knob that fixes small files); None keeps the scan's partitioning.
    ``partition_by``: optional hive-partition columns for the compacted
    dataset (e.g. an event-date column).
    ``cluster_by``: range-partition + sort the compacted write by these
    columns so each output file owns a tight value slice — what makes
    per-file stats selective.
    ``stats_columns``: after the write, build the per-file min/max
    sidecar (sources/stats_manifest) for these columns inside the new
    level; `read_sink_with_skipping` then prunes compacted files
    without opening their footers. Pass it at EVERY compaction of a
    skipping-read sink — each level carries its own sidecar.
    ``major`` / ``max_levels``: see the module docstring.
    """

    def write(df: DataFrame, vdir: str) -> None:
        if cluster_by:
            n = target_partitions or df.rdd.getNumPartitions()
            df = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        elif target_partitions is not None:
            df = df.repartition(target_partitions)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        if stats_columns:
            write_stats_manifest(spark, vdir, stats_columns)

    return compact(
        spark, sink_path, up_to_batch, write, None, major, max_levels
    )


def read_sink(spark: SparkSession, sink_path: str) -> DataFrame:
    """Consistent view of the sink at any protocol point (`live_view`)."""
    view = live_view(spark, sink_path)
    if view is None:
        raise FileNotFoundError(f"empty sink: {sink_path}")
    return view


def vacuum_sink(spark: SparkSession, sink_path: str) -> dict:
    """`vacuum` for the sink: safe to run at any time, concurrent with
    readers."""
    return vacuum(spark, sink_path)


def read_sink_with_skipping(
    spark: SparkSession,
    sink_path: str,
    ranges: dict[str, tuple[float | None, float | None]],
) -> DataFrame:
    """`read_sink` with manifest-pruned access to the compacted portion:
    compacted files whose per-file stats prove no range intersection are
    never opened; the (small) uncompacted tail is read in full. The
    ranges are re-applied as real predicates either way, so the result
    equals filter(read_sink(...)) exactly — skipping only changes which
    files get touched."""

    def read_level(vdir: str) -> DataFrame:
        if not _exists(spark, f"{vdir}/{MANIFEST_DIR}"):
            # a level compacted without stats_columns has no sidecar:
            # read it whole (the predicates below still apply)
            return spark.read.parquet(vdir)
        keep = prune_files(spark, vdir, ranges)
        if not keep:
            # everything pruned: keep the level's schema contribution
            return spark.read.parquet(vdir).limit(0)
        # basePath: compact_sink allows partition_by + stats_columns
        # together, so the pruned file list can live under hive dirs;
        # without the anchor those partition columns would be dropped.
        return spark.read.option("basePath", vdir).parquet(*keep)

    out = _view(spark, sink_path, read_level)
    if out is None:
        raise FileNotFoundError(f"empty sink: {sink_path}")
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            out = out.filter(F.col(col) >= lo)
        if hi is not None:
            out = out.filter(F.col(col) <= hi)
    return out
