"""Exactly-once streaming PERCEPTUAL media near-dup ingest — the media
tier's version of `streaming/ingest.py`'s chunk-dedup protocol: each
arriving micro-batch of media is dHashed, paired against committed
history through the banded index, and folded into the corpus labeling
with `connected_components_incremental` — no re-clustering of the base
graph, no payload ever re-read.

State, batch_id-versioned like the digest store (replay safety by
addressable history — a replayed batch sees exactly the committed view
its first attempt saw and rewrites identical bytes):

  * ``store/batch_id=<n>/dp=<bucket>/`` — the batch's EXPLODED band
    index rows (band_idx, band_val, media_id, all four bands), hive-
    bucketed by ``dp`` = band_val % dp_buckets. dp_buckets is part of
    the ON-DISK LAYOUT and therefore lifetime-fixed per store: it is
    persisted into ``store/_dp_buckets`` on the first batch and every
    later open validates against it (a silently-different value would
    make the partition-prune filter exclude history rows that share a
    band key with the batch — missed pairs, wrong clusterings, no
    error). By default it is DERIVED from the first batch as
    ``max(1, first_batch_rows // 4096)`` so batch-rows/bucket lands in
    the thousands — SCALE.md round 14 measured 256 buckets turning 20k-
    row batches into a 4-8x small-file storm, which is why there is no
    fixed numeric default. The probe pushes the incoming batch's
    distinct dp values (<= dp_buckets, a knob-bounded collect) as a
    literal partition filter; pruning is SOUND because a candidate pair
    must share an exact (band_idx, band_val) key, so any history row
    that can pair with the batch lives in a dp bucket the batch itself
    occupies.
  * ``labels/batch_id=<n>/`` — the FULL (id, label) corpus labeling
    after batch n (min-id labels, the engine-wide keeper convention).
    O(corpus) 16-byte rows per batch: the labeling IS the product; old
    versions are sealed history — `vacuum_media_labels` removes the
    ones no recovering stream can ever consult.

Per batch: hash (map-only, payloads never leave their scan), one
prefix-pruned banded join against history + the batch itself (only
(id, bands) rows move), and one contracted-graph CC whose size is
O(touched labels + batch) — independent of the base corpus
(`connected_components_incremental`'s contract). Because min-id labels
compose, draining the stream reproduces the ONE-SHOT
`collapse_clusters` over the full corpus bit-for-bit — pinned,
including a crash replay in the write→commit window, by
tests/test_streaming.py::test_streaming_media_neardup_ingest (the batch
twin `mm_near_dedup` carries the hard DuckDB oracle for the same
composition).

Hasher contract: any DHASH_SCHEMA-shaped hasher plugs in
(`fake_dhash_image` default; `dhash_image` where PIL exists;
`audio_energy_fingerprint` for audio). Items whose hasher emits NULL
bands (audio's too-short convention) are indexed as vertices but never
pair — they stay singletons, exactly as in the batch operator.

Input contract: at-least-once sources may RE-DELIVER a media_id in a
LATER batch (checkpoint replay only covers same-batch retries). The
writer guards this: arriving ids already present in the committed
labeling are dropped before pairing/labeling (their content was already
folded in — first-delivery wins, the same convention as the chunk-dedup
ingest's committed-flags-are-immutable rule), and byte-identical
duplicate rows inside one batch collapse. Two rows in ONE batch sharing
media_id with DIFFERENT content remain a caller error (ids must name
content uniquely); the labeling would carry both hash rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usgs_lidar_spark.streaming.compact import (
    _delete,
    _exists,
    _publish,
    _read_store_manifest,
    _read_text,
    compact,
    list_sealed_batches,
    live_view,
    vacuum,
)

#: Pinned store schema: probe reads never run inference.
HASH_STORE_SCHEMA = (
    "band_idx int, band_val bigint, media_id bigint, "
    "b0 bigint, b1 bigint, b2 bigint, b3 bigint, "
    "batch_id bigint, dp string"
)

LABELS_SCHEMA = "id bigint, label bigint"

#: Store-layout metadata file holding the lifetime-fixed dp bucket
#: count (one integer line), written on the store's first batch.
DP_META = "_dp_buckets"

#: Sizing rule for the derived dp_buckets default: aim for batch-rows/
#: bucket in the thousands (SCALE.md round 14 measured the small-file
#: storm when this quotient drops to the tens).
ROWS_PER_BUCKET = 4096


def read_dp_buckets(spark, store_path: str) -> int | None:
    """The store's persisted dp bucket count, or None for a store that
    has not committed its first batch yet. Corrupt metadata re-raises
    — guessing a layout parameter is exactly the silent-miss bug the
    metadata exists to prevent."""
    text = _read_text(spark, f"{store_path}/{DP_META}")
    if text is None:
        return None
    line = text.split("\n", 1)[0].strip()
    if not line.isdigit() or int(line) < 1:
        raise ValueError(
            f"corrupt dp_buckets metadata at {store_path}/{DP_META}: "
            f"{line!r} (expected one positive integer line)"
        )
    return int(line)


def _write_dp_buckets(spark, store_path: str, dp_buckets: int) -> None:
    """Persist the layout metadata ATOMICALLY (`compact._publish`): a
    crash mid-write must never leave a truncated ``_dp_buckets`` — that
    file failing the corrupt check on every later open would wedge the
    store needing manual repair, since `_resolve_dp_buckets` only
    rewrites when the file is ABSENT. With tmp+rename the final name
    either doesn't exist (the replayed first batch re-derives and
    self-heals) or is complete."""
    _publish(spark, f"{store_path}/{DP_META}", f"{int(dp_buckets)}\n")


def compact_media_store(
    spark,
    store_path: str,
    up_to_batch: int,
    major: bool = False,
    max_levels: int = 8,
) -> dict | None:
    """`compact.compact` over the band index: MINOR (the default) folds
    the sealed batch dirs in (manifest max, ``up_to_batch``] into one
    new dp-partitioned level; MAJOR (``major=True``, or automatic past
    ``max_levels``) merges the live levels too. dp stays a partition
    column in every level, so the probe's prefix pruning keeps working.
    Returns the new manifest, or None when there is nothing to do.

    ``up_to_batch`` must be <= the stream checkpoint's last COMMITTED
    batch id: a recovering stream only ever replays batches above that,
    and a replayed batch's probe (``batch_id < n``) sees the identical
    row set through levels + tail — so compaction is safe against
    crash replay (pinned by the test). NEVER pass the id of a batch
    that may still be replayed: its directory would be merged AND
    rewritten by the replay, duplicating its rows in the view.

    SINGLE MAINTAINER PER STORE: do not run two compactions (or a
    compaction and an external vacuum) concurrently — the inline
    `compact_every` path serializes maintenance for free."""

    def write(df: DataFrame, vdir: str) -> None:
        # ~1 file per dp bucket: partition the shuffle by dp itself
        # (capped — at huge dp counts a few buckets per task is fine).
        dp = read_dp_buckets(spark, store_path)
        df.repartition(min(int(dp or 32), 256), F.col("dp")).write.partitionBy(
            "dp"
        ).mode("overwrite").parquet(vdir)

    return compact(
        spark, store_path, int(up_to_batch), write, HASH_STORE_SCHEMA,
        major, max_levels,
    )


def vacuum_media_store(spark, store_path: str) -> dict:
    """`compact.vacuum` over the band index. Like compaction, assumes
    ONE maintainer per store (the inline `compact_every` path
    qualifies); vacuum sparing newer-versioned build dirs is what makes
    an extra, racing vacuum merely wasteful instead of destructive."""
    return vacuum(spark, store_path)


def vacuum_media_labels(
    spark, labels_path: str, committed_batch_id: int
) -> int:
    """Delete sealed label versions no recovering stream can consult:
    each ``labels/batch_id=<n>`` is a FULL self-contained labeling, and
    a replayed batch n (necessarily n > the checkpoint's last committed
    id) reads only the LATEST version strictly older than n — at most
    the latest sealed version <= ``committed_batch_id``. Everything
    strictly older than that keep-point is unreachable history. Returns
    the number of versions removed. Versions above the committed id
    (a crashed batch's completed-but-uncommitted output) are never
    touched — the replay overwrites them in place."""
    sealed = list_sealed_batches(spark, labels_path)
    keepable = [b for b in sealed if b <= int(committed_batch_id)]
    if not keepable:
        return 0
    older = [b for b in sealed if b < max(keepable)]
    for b in older:
        _delete(spark, f"{labels_path}/batch_id={b}")
    return len(older)


def _exploded_bands(hashes: DataFrame) -> DataFrame:
    """(band_idx, band_val, media_id, b0..b3) — one row per non-NULL
    band; NULL-banded items (the audio too-short convention) emit no
    index rows and therefore never pair."""
    bands = F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
        "band_idx", "band_val"
    )
    return (
        hashes.select("media_id", "b0", "b1", "b2", "b3", bands)
        .filter(F.col("band_val").isNotNull())
        .select(
            "band_idx", "band_val", "media_id", "b0", "b1", "b2", "b3"
        )
    )


def read_hash_store_before(
    spark,
    store_path: str,
    batch_id: int,
    prefixes: list[str] | None = None,
    dp_buckets: int | None = None,
) -> DataFrame:
    """Band-index rows of all batches STRICTLY older than ``batch_id``,
    optionally restricted to the dp buckets in ``prefixes`` (sound for
    pair probing — see module docstring). Callers passing ``prefixes``
    should also pass the ``dp_buckets`` they computed them with: it is
    validated against the store's persisted layout metadata and a
    mismatch raises (prefixes computed under a different bucket count
    would silently prune history rows that share band keys with the
    probe). Missing store (first batch) reads as zero rows; any other
    read failure re-raises loudly (the silent-rot contract of
    `streaming/ingest.read_store_before`).

    The view is `compact.live_view` — row-identical to the plain
    batch-dir union at every protocol point, with dp a partition column
    in every layout so prefix pruning reaches the file listing either
    way."""
    if prefixes is not None and dp_buckets is not None:
        stored = read_dp_buckets(spark, store_path)
        if stored is not None and stored != int(dp_buckets):
            raise ValueError(
                f"dp_buckets mismatch: store {store_path} was laid out "
                f"with dp_buckets={stored} (persisted in {DP_META}) but "
                f"the probe's prefixes were computed with "
                f"dp_buckets={int(dp_buckets)} — dp is lifetime-fixed; "
                "prefix pruning under a different bucket count silently "
                "misses history pairs"
            )
    store = live_view(spark, store_path, HASH_STORE_SCHEMA, before=batch_id)
    if store is None:
        store = spark.createDataFrame([], HASH_STORE_SCHEMA)
    if prefixes is not None:
        store = store.filter(F.col("dp").isin(list(prefixes)))
    return store.drop("batch_id", "dp")


def read_labels_before(spark, labels_path: str, batch_id: int) -> DataFrame:
    """The committed labeling as of the LATEST batch strictly older
    than ``batch_id`` (directory-addressed, so a replayed batch's own
    crashed labels/batch_id=n output is never consulted). Fresh store
    reads as zero rows. Listing goes through the path's own Hadoop
    filesystem — see `streaming/compact.py` for why a local-only probe
    is a correctness bug, not a style choice."""
    sealed = list_sealed_batches(spark, labels_path)
    older = [b for b in sealed if b < batch_id]
    if not older:
        return spark.createDataFrame([], LABELS_SCHEMA)
    return spark.read.schema(LABELS_SCHEMA).parquet(
        f"{labels_path}/batch_id={max(older)}"
    )


def _resolve_dp_buckets(
    spark, store_path: str, requested: int | None, hashes: DataFrame
) -> int:
    """The store's lifetime dp bucket count: persisted metadata wins
    (an explicit conflicting request raises); a fresh store takes the
    request or derives ``max(1, first_batch_rows // ROWS_PER_BUCKET)``
    and persists it BEFORE any data write (a crash in between replays
    to the identical derived value — the derivation is a pure function
    of the committed-identical first batch).

    A PRE-METADATA store — sealed ``batch_id=`` dirs (or a published
    manifest) but no ``_dp_buckets`` file, i.e. created before the
    metadata existed — is NEVER derived for: its history is already
    bucketed under some modulus this code can't know, and deriving a
    new one from the current batch would make the probe's dp
    partition-prune silently drop history rows sharing band keys with
    the batch (missed pairs, wrong clusterings, no error — the exact
    failure the metadata prevents). The caller must pass the
    ``dp_buckets`` the store was created with explicitly to ADOPT it;
    the adopted value is then persisted so later opens validate."""
    import warnings

    stored = read_dp_buckets(spark, store_path)
    if stored is not None:
        if requested is not None and int(requested) != stored:
            raise ValueError(
                f"dp_buckets mismatch: store {store_path} was laid out "
                f"with dp_buckets={stored} (persisted in {DP_META}) but "
                f"the writer was constructed with "
                f"dp_buckets={int(requested)} — dp is part of the "
                "on-disk layout and must keep one value for the store's "
                "lifetime"
            )
        return stored
    legacy = bool(list_sealed_batches(spark, store_path)) or (
        _read_store_manifest(spark, store_path) is not None
    )
    if requested is None and legacy:
        raise ValueError(
            f"store {store_path} has committed history but no {DP_META} "
            "metadata (pre-metadata layout) — pass the dp_buckets it was "
            "created with explicitly to adopt it (the value is then "
            "persisted); deriving a new count here would silently prune "
            "history under the wrong modulus"
        )
    n = hashes.count()
    if requested is not None:
        dp = int(requested)
        # Adoption of a pre-metadata store states a historical fact, not
        # a sizing choice — the storm warning only fires on fresh stores.
        if not legacy and dp > 1 and n // dp < ROWS_PER_BUCKET // 4:
            warnings.warn(
                f"dp_buckets={dp} gives ~{max(n // dp, 0)} rows/bucket "
                f"for a {n}-row first batch — the measured small-file "
                "storm regime (SCALE.md round 14); size dp_buckets so "
                "batch-rows/bucket lands in the thousands, or omit it "
                "to derive from the first batch",
                stacklevel=3,
            )
    else:
        dp = max(1, n // ROWS_PER_BUCKET)
    _write_dp_buckets(spark, store_path, dp)
    return dp


def media_neardup_ingest_writer(
    store_path: str,
    labels_path: str,
    max_hamming: int = 3,
    hasher: Callable[[DataFrame], DataFrame] | None = None,
    dp_buckets: int | None = None,
    embeddings: DataFrame | None = None,
    verify_threshold: float = 0.9,
    embedding_id_col: str = "media_id",
    embedding_vec_col: str = "embedding",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback implementing the versioned near-dup
    protocol above. Batch input: media rows (media_id, content).
    Publishes the batch's band-index rows and the updated full corpus
    labeling; both writes are pure functions of (batch, committed
    history), so replays rewrite identical bytes.

    ``dp_buckets`` sizes the store's band-value partitioning (probe
    pruning granularity vs files-per-batch). Leave it None to DERIVE
    the value from the first batch (``max(1, rows // 4096)`` — the
    measured batch-rows/bucket-in-the-thousands rule); either way the
    resolved value is persisted into ``store/_dp_buckets`` and later
    opens of the same store validate against it (raise on conflict,
    loud warning when an explicit value lands in the measured
    small-file-storm regime).

    Re-delivered ids (see module docstring's input contract) are
    dropped against the committed labeling before any pairing — the
    guard is itself a pure function of (batch, committed history), so
    replay purity holds.

    ``embeddings`` (optional) turns the ingest TWO-TIER — the streaming
    twin of the batch `mm_near_dedup_semantic` composition: every
    candidate pair (history probes included) must additionally clear
    `multimodal.semantic_verify_pairs` against this (id, vector) table
    at ``verify_threshold`` before it can merge clusters; pairs with a
    missing embedding drop (strict verify). Soundness of the
    incremental fold is unchanged: the verify is a per-pair pure
    function, so the verified subset of "pairs with >= 1 new endpoint"
    is exactly the new-edge set of the verified pair graph. REPLAY
    PURITY CONTRACT: the embeddings frame must be FIXED for the
    stream's lifetime (a snapshot path, not a live table) — verifying
    a replayed batch against different vectors would rewrite different
    bytes; the same fixed-benchmark rule as the semantic-decon ingest.

    ``compact_every=N`` runs the state-lifecycle maintenance INLINE —
    after every Nth batch's state writes, `compact_media_store` folds
    batches <= batch_id-1 into the manifest dataset and
    `vacuum_media_labels`/`vacuum_media_store` drop unreachable
    versions — so a long-running stream bounds its own file count with
    no external scheduler. Safe by the protocol's own arguments:
    everything <= batch_id-1 is checkpoint-committed while batch_id is
    in flight (availableNow/foreachBatch serialization), the current
    batch's fresh directory is never touched, and a REPLAYED batch's
    compaction finds the manifest already covering its target and
    no-ops — maintenance is idempotent exactly like the state writes.

    WHEN INCREMENTAL PAYS (measured, SCALE.md round 14): per batch this
    writer re-reads NO payloads — the hash pass touches only the
    arriving batch — but it does rewrite the full O(corpus) labeling
    and probe the band index, so at toy payload sizes a from-scratch
    re-cluster of everything can be cheaper than one ingest batch. The
    crossover is payload-bound: one-shot-per-arrival re-decodes every
    payload every time (the dominant cost of a real image/video corpus
    — decode is orders of magnitude heavier than these fixtures' fake
    byte-grid hash), while the incremental fold's marginal cost is
    batch decode + index-row work. Run the ingest when payload decode
    dominates or the corpus no longer fits a comfortable re-cluster;
    re-cluster in batch when it does."""
    if not 0 <= int(max_hamming) <= 7:
        raise ValueError(
            f"max_hamming must be in [0, 7] for 4x16-bit banding, got "
            f"{max_hamming}"
        )
    if dp_buckets is not None and int(dp_buckets) < 1:
        raise ValueError(f"dp_buckets must be >= 1, got {dp_buckets}")

    def ingest(batch: DataFrame, batch_id: int) -> None:
        from usgs_lidar_spark.multimodal import fake_dhash_image
        from usgs_lidar_spark.operators.graph import (
            connected_components_incremental,
        )

        spark = batch.sparkSession
        hashes = (
            (hasher or fake_dhash_image)(batch)
            .distinct()  # byte-identical same-batch re-deliveries
            .localCheckpoint(eager=False)
        )
        dp = _resolve_dp_buckets(spark, store_path, dp_buckets, hashes)
        old = read_labels_before(spark, labels_path, batch_id)
        # Cross-batch re-delivery guard: ids already in the committed
        # labeling were folded in by their first delivery — drop them
        # before pairing/vertices (8-byte id rows shuffle, no payloads).
        fresh = hashes.join(
            old.select(F.col("id").alias("media_id")), "media_id", "left_anti"
        ).localCheckpoint(eager=False)
        ex = _exploded_bands(fresh).withColumn(
            "dp",
            F.pmod(F.col("band_val"), F.lit(int(dp))).cast("string"),
        ).localCheckpoint(eager=False)
        prefixes = [
            r["dp"] for r in ex.select("dp").distinct().collect()
        ]
        hist = read_hash_store_before(
            spark, store_path, batch_id, prefixes, dp_buckets=dp
        )
        # Candidates: batch side a vs (batch ∪ history) side b on the
        # exact band key — every pair has >= 1 new endpoint (the
        # incremental-CC contract); old-old pairs are already folded
        # into the committed labeling.
        a = ex.select(
            "band_idx",
            "band_val",
            F.col("media_id").alias("id_a"),
            *[F.col(f"b{q}").alias(f"a{q}") for q in range(4)],
        )
        b = (
            ex.drop("dp")
            .unionByName(hist)
            .select(
                "band_idx",
                "band_val",
                F.col("media_id").alias("id_b"),
                *[F.col(f"b{q}").alias(f"c{q}") for q in range(4)],
            )
        )
        ham = sum(
            F.bit_count(F.col(f"a{q}").bitwiseXOR(F.col(f"c{q}")))
            for q in range(4)
        ).cast("long")
        pairs = (
            a.join(b, ["band_idx", "band_val"])
            .filter(F.col("id_a") != F.col("id_b"))
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= int(max_hamming))
            .select(
                F.least("id_a", "id_b").alias("src"),
                F.greatest("id_a", "id_b").alias("dst"),
            )
            .distinct()
        )
        if embeddings is not None:
            from usgs_lidar_spark.multimodal import semantic_verify_pairs

            pairs = semantic_verify_pairs(
                pairs,
                embeddings,
                threshold=verify_threshold,
                id_col=embedding_id_col,
                vec_col=embedding_vec_col,
                pair_a="src",
                pair_b="dst",
            ).drop("cos_sim")
        labels = connected_components_incremental(
            old,
            fresh.select(F.col("media_id").alias("id")),
            pairs,
        )
        labels.write.mode("overwrite").parquet(
            f"{labels_path}/batch_id={batch_id}"
        )
        ex.withColumn("batch_id", F.lit(int(batch_id))).write.partitionBy(
            "dp"
        ).mode("overwrite").parquet(f"{store_path}/batch_id={batch_id}")
        if (
            compact_every
            and batch_id > 0
            and batch_id % int(compact_every) == 0
        ):
            compact_media_store(spark, store_path, up_to_batch=batch_id - 1)
            vacuum_media_labels(
                spark, labels_path, committed_batch_id=batch_id - 1
            )
            vacuum_media_store(spark, store_path)

    return ingest


def run_media_neardup_ingest(
    stream_df: DataFrame,
    store_path: str,
    labels_path: str,
    checkpoint: str,
    max_hamming: int = 3,
    hasher: Callable[[DataFrame], DataFrame] | None = None,
    dp_buckets: int | None = None,
    embeddings: DataFrame | None = None,
    verify_threshold: float = 0.9,
    compact_every: int | None = None,
) -> None:
    """Drain all available media through the exactly-once near-dup
    ingest (availableNow trigger). Restart with the same checkpoint
    resumes after the last committed batch; replays rewrite identical
    bytes into the same batch_id directories. ``dp_buckets`` forwards
    to `media_neardup_ingest_writer` (None = derive from the first
    batch and persist; an existing store's persisted value wins);
    ``embeddings``/``verify_threshold`` forward the two-tier semantic
    verify (fixed-snapshot contract — see the writer docstring);
    ``compact_every`` forwards the inline state-lifecycle maintenance."""
    q = (
        stream_df.writeStream.foreachBatch(
            media_neardup_ingest_writer(
                store_path,
                labels_path,
                max_hamming,
                hasher,
                dp_buckets,
                embeddings=embeddings,
                verify_threshold=verify_threshold,
                compact_every=compact_every,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def materialize_media_shards(
    spark,
    labels_path: str,
    media_meta: DataFrame,
    out_path: str,
    budget: int = 4096,
    n_streams: int = 8,
    gate_threshold: float | None = None,
    payloads: DataFrame | None = None,
    payload_out: str | None = None,
    strict_payloads: bool = True,
) -> DataFrame:
    """Close the loop from STREAMING dedup state to LOADER shards: read
    the ingest's latest committed labeling, keep the min-id keeper of
    every cluster, optionally gate keepers through the image-text
    CLIP-score filter, pack the survivors into byte-budget shards
    (`pack_sequences` over payload bytes), and write one hive
    partition per (pack_stream, shard_id) with rows stored in
    byte_start order — a trainer streams `pack_stream=S/shard_id=K`
    sequentially and reads exactly the curated byte layout. Returns
    the pack-assignment frame (what was written).

    ``media_meta``: one row per media_id with ``n_bytes`` (payload
    size) and — when ``gate_threshold`` is set — ``caption_embedding``
    / ``image_embedding`` columns for `multimodal.image_text_gate`.
    Keepers missing a media_meta row drop (strict: no metadata, no
    shard slot); with the gate on, unembedded or misaligned keepers
    drop by the gate's own strict-verify rule.

    This is the BATCH tail of the streaming pipeline — the exact
    composition `pipe_end_to_end_v9` registers as one query (pinned
    equal by tests/test_streaming.py::test_materialize_shards_matches_v9
    on the shared fixture): the drain maintains the labeling
    incrementally; materialization is run at training-set cut time,
    reading labels + metadata only. By default payloads never move —
    this writer ships the assignment, ids, and offsets, the loader's
    MANIFEST.

    ``payloads`` + ``payload_out`` (round 16) additionally run the BYTE
    MOVER: `multimodal.shard_payload_blobs` joins each surviving item's
    ``(media_id, content)`` payload to its assignment, slices shard-
    boundary pieces map-side, and writes one assembled ≤``budget``-byte
    blob row per shard under hive ``payload_out/pack_stream=S/
    shard_id=K/`` — the dirs the manifest addresses. Items the
    curation dropped never reach the join. ``strict_payloads``
    (default True) raises on an assigned item whose payload is missing
    or mis-sized, at the cost of one extra payload shuffle at scale
    (the outer-join side cannot broadcast); False keeps the size guard
    but trusts that every assigned id has a payload row — correct by
    construction when both frames are cut from the same committed
    snapshot — letting the assignment broadcast so payload bytes move
    exactly once (see `shard_payload_blobs`). Passing one of
    payloads/payload_out without the other raises — silently skipping
    the byte move (or writing blobs nowhere) is the silent-rot class
    this module bans."""
    from usgs_lidar_spark.operators.pipeline import pack_sequences

    if (payloads is None) != (payload_out is None):
        raise ValueError(
            "payloads and payload_out must be passed together: the byte "
            "mover needs both the (media_id, content) table and a "
            "destination"
        )

    # Unlike `read_labels_before` — whose caller (the writer) only runs
    # after every older batch committed, so older labels are complete by
    # the protocol's serialization — this function is called EXTERNALLY
    # and may race a crashed stream whose newest labels directory was cut
    # off mid-write. Reading a partial labeling silently would be the
    # silent-rot class this module bans: accept only versions whose
    # _SUCCESS marker proves the write finished.
    sealed = [
        b
        for b in list_sealed_batches(spark, labels_path)
        if _exists(spark, f"{labels_path}/batch_id={b}/_SUCCESS")
    ]
    if not sealed:
        raise FileNotFoundError(
            f"no committed labeling under {labels_path} — drain the "
            "ingest before materializing shards"
        )
    labels = spark.read.schema(LABELS_SCHEMA).parquet(
        f"{labels_path}/batch_id={max(sealed)}"
    )
    keepers = labels.filter(F.col("id") == F.col("label")).select(
        F.col("id").alias("media_id")
    )
    kept = keepers.join(media_meta, "media_id")
    if gate_threshold is not None:
        from usgs_lidar_spark.multimodal import image_text_gate

        kept = (
            image_text_gate(kept, threshold=float(gate_threshold))
            .filter(F.col("kept"))
        )
    packed = pack_sequences(
        kept.select("media_id", "n_bytes"),
        "media_id",
        F.col("n_bytes"),
        budget=int(budget),
        n_streams=int(n_streams),
    ).select(
        "media_id",
        F.col("pack_stream").cast("long").alias("pack_stream"),
        F.col("n_tokens").alias("n_bytes"),
        F.col("token_start").alias("byte_start"),
        F.col("pack_id").alias("shard_id"),
        F.col("pack_offset").alias("shard_offset"),
        "split_across",
    )
    # NOT localCheckpoint-pinned despite two consumers when the byte
    # mover runs: a checkpointed frame loses Catalyst's size stats
    # (LogicalRDD defaults to "unknown, huge"), which silently kills the
    # assignment-broadcast plan the trusted byte-mover path exists for
    # (measured: the pinned form sort-merged at 10x, re-shuffling all
    # payload bytes). Recomputing the pack window for the second
    # consumer shuffles only (id, n_bytes) rows — the cheaper side of
    # the trade at every scale.
    (
        packed.repartition(int(n_streams), "pack_stream")
        .sortWithinPartitions("pack_stream", "shard_id", "byte_start")
        .write.mode("overwrite")
        .partitionBy("pack_stream", "shard_id")
        .parquet(out_path)
    )
    if payloads is not None:
        from usgs_lidar_spark.multimodal import shard_payload_blobs

        blobs = shard_payload_blobs(
            packed, payloads, budget=int(budget), strict=strict_payloads
        )
        # NO repartition before the write: every (pack_stream, shard_id)
        # group already lives whole in one task after the blob
        # aggregation, so partitionBy gets exactly one file per shard
        # dir as-is — re-shuffling here would move every blob byte a
        # second time for nothing (measured: it was ~1/3 of the
        # scenario's total shuffle before round 16 removed it).
        blobs.write.mode("overwrite").partitionBy(
            "pack_stream", "shard_id"
        ).parquet(payload_out)
    return packed
