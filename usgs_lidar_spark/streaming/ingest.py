"""Exactly-once streaming passage-dedup ingest: the foreachBatch form of
`operators/dedup.chunk_dedup_incremental` with a batch_id-VERSIONED
digest store.

The naive ingest (append digests to a flat store, probe the whole
store) is NOT replay-safe: Structured Streaming delivers each
micro-batch to foreachBatch at least once, and a crash after the store
append but before the checkpoint commit replays the batch against a
store that already contains ITS OWN digests — every chunk then loses
the anti-join and the replayed output reports n_kept=0 for the whole
batch, overwriting the correct first-attempt rows. The bug is silent:
row counts still match (row in = row out), only the values rot.

The fix needs no transactions, just addressable history (the same
batch_id-keyed idempotence as `streaming/sink.py` and
`streaming/rollup_sink.py`):

  * the store is hive-partitioned by batch_id — each batch PUBLISHES
    its own chunk digests to ``store/batch_id=<n>`` with overwrite;
  * the probe reads ONLY strictly older partitions
    (``batch_id < n``, a pruned scan with a pinned schema — newer /
    partially-written directories are never opened);
  * the deduped output lands in ``out/batch_id=<n>`` with overwrite.

Every write is then a pure function of (batch input, committed
history): a replay sees exactly the store view the first attempt saw
and rewrites identical bytes into the same directories. With monotone
doc_ids across batches (an ingest's arrival order), draining the
stream reproduces the one-shot `chunk_dedup_docs` over the full corpus
bit-for-bit — pinned, including a crash-restart in the worst window, by
``tests/test_streaming.py::
test_streaming_chunk_dedup_ingest_pack_exactly_once``.

Scale: each micro-batch costs one digest-keyed anti-join (64-hex keys;
historical TEXT never moves) plus the batch-sized election and
reassembly; the store grows by one partition per batch and sealed
partitions compact via `streaming/compact.compact_sink` without
touching the stream (the probe reads `compact.live_view` either way).

Round 11 — digest-PREFIX bucketing: each batch partition is further
hive-partitioned by ``dp`` = the first ``prefix_width`` hex chars of
the digest (``store/batch_id=<n>/dp=<xx>/``), and the probe collects
the incoming batch's DISTINCT prefixes (bounded by 16^prefix_width —
a knob, never data) and pushes them as a literal partition filter.
The history-side anti-join then reads only the prefix buckets the
batch can possibly match instead of the full store: probe bytes scale
with history-under-touched-prefixes, not total history — and the
touched fraction is batch-prefix-coverage / 16^width, a knob a 100 TB
operator sizes so one batch's probe reads ~batch-sized history
(deepen the prefix as the store grows; the layout is additive, old
readers that ignore ``dp`` still see every row). Replay safety is
unchanged: the prefix is a pure function of the digest, so a replayed
batch computes the same prefix set and reads the same view.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Store schema, pinned so probe reads never run inference (inference
#: would open file footers in partitions the filter is about to prune —
#: including a crashed batch's partially-written directory). ``dp`` is
#: the digest-prefix bucket (hive partition within each batch dir).
STORE_SCHEMA = "digest string, batch_id bigint, dp string"


def read_store_before(
    spark,
    store_path: str,
    batch_id: int,
    prefixes: list[str] | None = None,
) -> DataFrame:
    """Digests of all batches STRICTLY older than ``batch_id`` — the
    committed history a (re)played batch is allowed to see. Missing
    store (first batch, fresh checkpoint) reads as zero rows; ANY OTHER
    read failure (transient FS error, permission denial, corrupt
    metadata) re-raises and fails the batch — silently treating a
    broken store as "no committed history" would skip passage dedup for
    the batch and commit duplicate-retaining output, the exact
    silent-rot class this module exists to prevent.

    The probe reads `compact.live_view` — compacted levels plus the
    strictly-older uncompacted tail, through the store's own Hadoop
    filesystem. A long-running ingest compacts sealed batch dirs with
    `compact.compact_sink` (pass ``partition_by=["dp"]`` to keep the
    prefix pruning). A manifest covering ``batch_id`` itself (or newer)
    raises loudly: compaction folding a still-replayable batch into
    history would recreate the flat-store self-dedup bug; compact only
    batches the stream's checkpoint has sealed.

    Pre-dp stores (written before digest-prefix bucketing existed) read
    back with dp=NULL under the pinned schema; NULL dp ALWAYS matches
    the prefix filter, so legacy history is never silently dropped
    (ADVICE r11). A store MIXING flat legacy batches with dp-bucketed
    batches fails loudly (Spark's CONFLICTING_PARTITION_COLUMN_NAMES —
    partition layouts can't merge in one scan); migrate by compacting
    the sealed legacy batches with ``compact_sink(...,
    partition_by=["dp"])`` first."""
    from usgs_lidar_spark.streaming.compact import (
        _read_store_manifest,
        live_view,
    )

    manifest = _read_store_manifest(spark, store_path)
    if manifest is not None and manifest["max_batch_id"] >= batch_id:
        raise ValueError(
            f"digest store {store_path!r} is compacted through "
            f"batch {manifest['max_batch_id']}, but batch {batch_id} may "
            "still be replayed — its own digests would sit inside "
            "'history' and the replay would dedup the batch against "
            "itself. Compact only batches sealed by the stream checkpoint."
        )
    store = live_view(spark, store_path, STORE_SCHEMA, before=batch_id)
    if store is None:
        return spark.createDataFrame([], STORE_SCHEMA).select("digest")
    if prefixes is not None:
        # Literal partition filter: only the prefix buckets the probing
        # batch can match are listed/read (bounded: <= 16^prefix_width
        # values). An anti-join never needs non-matching history rows.
        # NULL dp must ALWAYS match: a store (or compacted version dir)
        # written before the dp column existed reads back with dp=NULL
        # under the pinned STORE_SCHEMA, and `isin` alone would silently
        # drop ALL of that history — the probe would report zero
        # committed digests and the batch would retain duplicates with
        # intact row counts, the exact silent-rot class this module
        # exists to prevent. Partition pruning on dp-bucketed stores is
        # unaffected (a hive-partitioned dp is never NULL on disk, and
        # IsNull on a partition column prunes to nothing there).
        store = store.filter(
            F.col("dp").isNull() | F.col("dp").isin(list(prefixes))
        )
    return store.select("digest")


def chunk_dedup_ingest_writer(
    store_path: str,
    out_path: str,
    chunk_tokens: int = 32,
    prefix_width: int = 2,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback implementing the versioned-store protocol
    above. Output rows per batch doc: (doc_id, n_chunks, n_kept,
    new_text) — row in = row out, so downstream packing can filter
    n_kept > 0 without losing the audit trail.

    ``prefix_width``: hex chars of the digest-prefix bucket ``dp``
    (16^width buckets). The batch's digest frame is checkpoint-pinned
    once and reused for both the distinct-prefix collect (bounded by
    the bucket count, never data) and the store publish — the digest
    pass over the batch text runs once per attempt regardless of the
    two consumers."""
    if not 1 <= prefix_width <= 8:
        raise ValueError(
            f"prefix_width must be in [1, 8], got {prefix_width}"
        )
    from usgs_lidar_spark.operators.dedup import (
        chunk_dedup_incremental,
        chunk_digests,
    )

    def ingest(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        digests = (
            chunk_digests(batch, chunk_tokens=chunk_tokens)
            .withColumn("dp", F.substring("digest", 1, prefix_width))
            .localCheckpoint(eager=False)
        )
        prefixes = [
            r["dp"] for r in digests.select("dp").distinct().collect()
        ]
        seen = read_store_before(spark, store_path, batch_id, prefixes)
        deduped = chunk_dedup_incremental(
            batch, seen, chunk_tokens=chunk_tokens
        )
        deduped.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )
        digests.write.partitionBy("dp").mode("overwrite").parquet(
            f"{store_path}/batch_id={batch_id}"
        )

    return ingest


def run_chunk_dedup_ingest(
    stream_df: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    chunk_tokens: int = 32,
    prefix_width: int = 2,
) -> None:
    """Drain all available input through the exactly-once ingest
    (availableNow trigger). Restart with the same checkpoint resumes
    after the last committed batch; a crash in the window between the
    sink writes and the commit replays into the same batch_id
    partitions with identical content."""
    q = (
        stream_df.writeStream.foreachBatch(
            chunk_dedup_ingest_writer(
                store_path, out_path, chunk_tokens, prefix_width
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def semantic_decon_ingest_writer(
    bench: DataFrame,
    centroids,
    out_path: str,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_pack_size: int | None = None,
    sub_bits: int = 8,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback for INCREMENTAL semantic test-set
    decontamination (round 14 — r13 verdict item 4): flag each arriving
    corpus micro-batch against a FIXED benchmark
    (`operators/similarity.semantic_contamination`) and publish the
    flags to ``out/batch_id=<n>`` with overwrite.

    Why this needs NO digest store (unlike `chunk_dedup_ingest_writer`):
    a decon flag is a pure per-corpus-row function of (row, benchmark) —
    the operator's own immutability contract ("flags for a fixed
    benchmark are immutable under corpus appends") — so batches share no
    state, a replayed batch recomputes byte-identical flags from its own
    rows alone, and the batch_id-keyed overwrite makes every write
    idempotent. Exactly-once falls out of purity + addressable output;
    there is no history to version because there is no history.

    Drain parity: with ANY batch split of the corpus, the union of
    published flags equals the one-shot `semantic_contamination` over
    the full corpus bit-for-bit — pinned (including a crash replay in
    the write→commit window) by
    tests/test_streaming.py::test_streaming_semantic_decon_ingest.

    Scale: per batch the corpus side still moves ZERO bytes (map-side
    assignment + broadcast/cell-keyed bench pack — the batch operator's
    own plan); the benchmark assignment is recomputed per batch, which
    is the deliberate trade for statelessness — pre-assign and persist
    the packed bench once if the benchmark is large (the `bcells` frame
    is bench-sized, the same budget class as the digest store)."""

    def ingest(batch: DataFrame, batch_id: int) -> None:
        from usgs_lidar_spark.operators.similarity import (
            semantic_contamination,
        )

        flags = semantic_contamination(
            batch,
            bench,
            centroids,
            threshold=threshold,
            vec_col=vec_col,
            id_col=id_col,
            max_pack_size=max_pack_size,
            sub_bits=sub_bits,
        )
        flags.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return ingest


def run_semantic_decon_ingest(
    stream_df: DataFrame,
    bench: DataFrame,
    centroids,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_pack_size: int | None = None,
    sub_bits: int = 8,
) -> None:
    """Drain all available corpus input through the incremental decon
    (availableNow trigger). Restart with the same checkpoint resumes
    after the last committed batch; replays rewrite identical bytes
    into the same batch_id directory (see writer docstring)."""
    q = (
        stream_df.writeStream.foreachBatch(
            semantic_decon_ingest_writer(
                bench, centroids, out_path, threshold,
                vec_col, id_col, max_pack_size, sub_bits,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def image_text_gate_ingest_writer(
    out_path: str,
    threshold: float,
    text_vec_col: str = "caption_embedding",
    image_vec_col: str = "image_embedding",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback for STREAMING image-text pair gating
    (round 15 — the multimodal counterpart of the semantic-decon
    ingest): score each arriving micro-batch of (caption embedding,
    image embedding) pairs with `multimodal.image_text_gate` and
    publish the audit rows (every input row + clip_score + kept) to
    ``out/batch_id=<n>`` with overwrite.

    Same statelessness argument as `semantic_decon_ingest_writer`: the
    gate verdict is a pure per-row function, batches share no state, a
    replayed batch recomputes byte-identical scores from its own rows,
    and the batch_id-keyed overwrite makes every write idempotent —
    exactly-once from purity + addressable output, no store to version.
    Drain parity with the one-shot batch gate (any batch split, crash
    replay included) is pinned by
    tests/test_streaming.py::test_streaming_image_text_gate_ingest."""

    def ingest(batch: DataFrame, batch_id: int) -> None:
        from usgs_lidar_spark.multimodal import image_text_gate

        audited = image_text_gate(
            batch, threshold, text_vec_col, image_vec_col
        )
        audited.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return ingest


def run_image_text_gate_ingest(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float,
    text_vec_col: str = "caption_embedding",
    image_vec_col: str = "image_embedding",
) -> None:
    """Drain all available pair input through the gate (availableNow
    trigger); restartable/replay-safe per the writer docstring."""
    q = (
        stream_df.writeStream.foreachBatch(
            image_text_gate_ingest_writer(
                out_path, threshold, text_vec_col, image_vec_col
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def minhash_decon_ingest_writer(
    bench: DataFrame,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.6,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback for INCREMENTAL fuzzy (MinHash) test-set
    decontamination (round 16 — the surface-form rung of the streaming
    decon ladder, between `chunk_dedup_ingest_writer`'s verbatim
    chunks and `semantic_decon_ingest_writer`'s embedding gate): flag
    each arriving corpus micro-batch against a FIXED benchmark with
    `operators/dedup.minhash_decon_pairs` and publish the flagged
    (doc_id, bench_id, jaccard) pairs to ``out/batch_id=<n>`` with
    overwrite.

    The same statelessness argument as the semantic twin, and it is
    exactly why the CROSS-SET decon streams trivially while the
    near-dup SELF-join (`media_ingest`) needs a versioned store: a
    fuzzy-decon pair is a pure function of (corpus doc, benchmark) —
    signatures are df-uncapped by design (a pure function of each
    doc's own text, `minhash_decon_pairs` docstring), the benchmark is
    frozen, and corpus docs never pair with EACH OTHER — so batches
    share no state, a replayed batch recomputes byte-identical pairs,
    and the batch_id-keyed overwrite is idempotent. Exactly-once from
    purity + addressable output; no history to version.

    Drain parity with the one-shot batch operator under any batch
    split (crash replay included) is pinned by
    tests/test_streaming.py::test_streaming_minhash_decon_ingest.

    Scale: per batch the benchmark's shingle/signature work is
    recomputed — the statelessness trade, bench-sized per batch;
    persist the benchmark's banded long-form once if that ever
    dominates (it is broadcast-bounded either way)."""

    def ingest(batch: DataFrame, batch_id: int) -> None:
        from usgs_lidar_spark.operators.dedup import minhash_decon_pairs

        pairs = minhash_decon_pairs(
            batch, bench, text_col, id_col,
            k=k, num_perm=num_perm, bands=bands, threshold=threshold,
        )
        pairs.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return ingest


def run_minhash_decon_ingest(
    stream_df: DataFrame,
    bench: DataFrame,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.6,
) -> None:
    """Drain all available corpus input through the incremental fuzzy
    decon (availableNow trigger); restartable/replay-safe per the
    writer docstring."""
    q = (
        stream_df.writeStream.foreachBatch(
            minhash_decon_ingest_writer(
                bench, out_path, text_col, id_col,
                k, num_perm, bands, threshold,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
