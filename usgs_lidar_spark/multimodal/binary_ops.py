"""Binary-column plumbing for multimodal data.

Design for 100 TB of media:
  * media lives in a `content: binary` column next to typed metadata
    (media_type, n_bytes, width/height/duration when known) — Parquet
    stores it page-compressed, and predicate pushdown on the metadata
    columns prunes scans without touching bytes;
  * all per-item Python work runs through ``mapInPandas`` — Arrow moves
    whole columnar batches across the JVM<->Python boundary once per
    partition chunk, never per row;
  * decode comes in three tiers: `probe_image_dims` (pure-Python header
    parse, runs anywhere), `decode_image` (full PIL decode, import-gated
    — no imaging libs in this container), and `fake_decode_image` (a
    deterministic stand-in exercising the exact schema/batch path).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema of a multimodal media table.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("content", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

#: Output schema of binary_feature_extract.
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_byte", T.IntegerType()),
        T.StructField("byte_sum_mod", T.LongType()),
    ]
)


def to_media_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a media table from a text column (UTF-8 bytes stand in for
    media payloads in tests — the schema/plumbing is what matters)."""
    content = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("media_type"),
        content.alias("content"),
        F.length(content).cast("long").alias("n_bytes"),
    )


def binary_feature_extract(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Features are deliberately simple and SQL-checkable (byte length, first
    byte, byte-sum mod 997) — the point is the mapInPandas path: columnar
    Arrow transfer, per-batch pandas work, typed output schema.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL content (the column is nullable) is treated as empty
            # bytes — a None would TypeError inside len()/sum() and fail
            # the whole task.
            content = pdf["content"].map(lambda b: b if b is not None else b"")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": content.map(len).astype("int64"),
                    "head_byte": content.map(
                        lambda b: int(b[0]) if len(b) else -1
                    ).astype("int32"),
                    "byte_sum_mod": content.map(
                        lambda b: int(sum(b)) % 997
                    ).astype("int64"),
                }
            )

    return media.mapInPandas(extract, FEATURES_SCHEMA)


def have_pil() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def decode_image(media: DataFrame) -> DataFrame:
    """Full image decode (width/height/channels) via PIL, Arrow-batched
    through the same mapInPandas shape as binary_feature_extract.

    Import-gated: raises a clear error at plan time when PIL is absent
    (this container ships no imaging libs — the gated path is exercised by
    a skipif test); `probe_image_dims` below covers PNG/JPEG/GIF/BMP
    dimensions with zero native deps, and is the cheaper first pass at
    scale anyway (headers only, no pixel decode)."""
    if not have_pil():
        raise NotImplementedError(
            "full image decoding requires PIL, not present in this "
            "environment; probe_image_dims parses PNG/JPEG/GIF/BMP headers "
            "with no imaging library, and fake_decode_image exercises the "
            "plumbing deterministically"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        def one(b: bytes) -> tuple[int, int, int]:
            try:
                with Image.open(io.BytesIO(b)) as im:
                    return im.width, im.height, len(im.getbands())
            except Exception:
                return -1, -1, -1

        for pdf in batches:
            dims = pdf["content"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "channels": dims.map(lambda d: d[2]).astype("int32"),
                }
            )

    return media.mapInPandas(decode, DECODED_SCHEMA)


#: JPEG start-of-frame markers that carry dimensions (all SOFn except the
#: DHT/DAC/JPG escapes C4, C8, CC).
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}

#: PNG color type -> sample channels.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _probe_one(b: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from file-format headers alone; (-1,-1,-1)
    for unrecognized/corrupt payloads. Pure Python over the leading bytes —
    no imaging library, no pixel decode."""
    import struct

    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return w, h, _PNG_CHANNELS.get(b[25] if len(b) > 25 else -1, -1)
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker == 0xFF:
                i += 1  # legal 0xFF fill byte before a marker
                continue
            if marker == 0xD9:
                break  # EOI before any SOF: no dimensions
            if marker in _JPEG_SOF:
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return w, h, b[i + 9]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
            i += 2 + seg_len
        return -1, -1, -1
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return w, h, 3
    if len(b) >= 30 and b[:2] == b"BM":
        w, h = struct.unpack("<ii", b[18:26])
        (bpp,) = struct.unpack("<H", b[28:30])
        return w, abs(h), {8: 1, 24: 3, 32: 4}.get(bpp, -1)
    return -1, -1, -1


def probe_image_dims(media: DataFrame) -> DataFrame:
    """Header-only dimension probe for PNG/JPEG/GIF/BMP binary payloads.

    The 100 TB first pass: reads a few dozen leading bytes per item inside
    an Arrow batch, so filtering a corpus by resolution/aspect/format never
    pays pixel-decode cost; route only the survivors through decode_image
    (PIL) or a GPU decoder."""

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["content"].map(
                lambda b: _probe_one(b) if b is not None else (-1, -1, -1)
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "channels": dims.map(lambda d: d[2]).astype("int32"),
                }
            )

    return media.mapInPandas(probe, DECODED_SCHEMA)


#: Output schema of fake_decode_image — what a real decoder would emit.
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)


def fake_decode_image(media: DataFrame) -> DataFrame:
    """Deterministic fake decoder: derives plausible dimensions from the
    byte content (so tests exercise the exact schema/batch path a real
    decoder would use)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["content"].map(len)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": (n % 640 + 1).astype("int32"),
                    "height": (n % 480 + 1).astype("int32"),
                    "channels": pd.Series([3] * len(pdf), dtype="int32"),
                }
            )

    return media.mapInPandas(decode, DECODED_SCHEMA)


#: Output schema of the resize operators: resized payload + new geometry.
RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

#: Output schema of frame sampling: one row per sampled frame.
FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.LongType()),
        T.StructField("n_frames_total", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Decode -> resize -> re-encode (PNG) via PIL, one Arrow batch at a
    time. Import-gated like decode_image (no imaging libs here);
    `fake_resize_image` exercises the identical schema/batch path. At
    scale this is the canonical thumbnailing pass: map-only, output
    partitioning inherits the scan, bytes cross the JVM<->Python boundary
    once per batch in each direction."""
    if not have_pil():
        raise NotImplementedError(
            "image resizing requires PIL, not present in this environment; "
            "fake_resize_image exercises the plumbing deterministically"
        )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        def one(b: bytes) -> bytes | None:
            try:
                with Image.open(io.BytesIO(b)) as im:
                    out = io.BytesIO()
                    im.resize((width, height)).save(out, format="PNG")
                    return out.getvalue()
            except Exception:
                return None

        for pdf in batches:
            resized = pdf["content"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "content": resized,
                    "n_bytes": resized.map(
                        lambda b: len(b) if b is not None else -1
                    ).astype("int64"),
                }
            )

    return media.mapInPandas(resize, RESIZED_SCHEMA)


def fake_resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Deterministic resize stand-in: the output payload is the input
    bytes tiled/truncated to exactly width*height bytes — a pure function
    of the input with the real operator's schema, batch shape, and
    output-size profile (output bytes ~ target geometry, independent of
    input size — what makes a thumbnail pass cheap to shuffle
    downstream)."""
    target = width * height

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(b) -> bytes:
            b = bytes(b) if b is not None else b""
            if not b:
                return bytes(target)
            reps = -(-target // len(b))  # ceil
            return (b * reps)[:target]

        for pdf in batches:
            resized = pdf["content"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "content": resized,
                    "n_bytes": resized.map(len).astype("int64"),
                }
            )

    return media.mapInPandas(resize, RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame, frame_size: int, every_n: int = 1
) -> DataFrame:
    """Frame sampling over raw fixed-size frame buffers: split `content`
    into consecutive ``frame_size``-byte frames (complete frames only)
    and emit every ``every_n``-th as its own row — the one-to-many
    mapInPandas shape a video pipeline uses (each input batch yields a
    frames batch; nothing is held per partition).

    This byte-chunk framing IS the real operator for uncompressed frame
    buffers (raw RGB/PCM); container formats (mp4/mkv) need a codec
    library this environment doesn't ship — that tier would wrap the same
    schema and sampling contract around an av/ffmpeg decode in `one()`.
    Oracle-checked against substring arithmetic (mm_frame_sample)."""
    if frame_size <= 0 or every_n <= 0:
        raise ValueError(
            f"frame_size and every_n must be positive, got "
            f"({frame_size}, {every_n})"
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids: list[int] = []
            idxs: list[int] = []
            totals: list[int] = []
            frames: list[bytes] = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content) if content is not None else b""
                n_frames = len(b) // frame_size
                for i in range(0, n_frames, every_n):
                    mids.append(mid)
                    idxs.append(i)
                    totals.append(n_frames)
                    frames.append(b[i * frame_size : (i + 1) * frame_size])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_index": pd.Series(idxs, dtype="int64"),
                    "n_frames_total": pd.Series(totals, dtype="int64"),
                    "frame": pd.Series(frames, dtype="object"),
                }
            )

    return media.mapInPandas(gen, FRAMES_SCHEMA)


#: Output schema of audio_rms_windows.
AUDIO_RMS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("window_index", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def audio_rms_windows(media: DataFrame, window: int = 64) -> DataFrame:
    """Windowed RMS energy over audio payloads — the feature pass of an
    audio quality/silence filter, one row per window (one-to-many
    mapInPandas, like sample_frames).

    The container has no audio codec library, so the "decode" is the
    deterministic stand-in this module uses throughout: each payload
    byte is an unsigned 8-bit PCM sample centered at 128 (a real decoder
    slots in behind the same (media_id, samples) contract). Per window
    of ``window`` samples (tail kept short): rms = sqrt(sumsq/n), with
    sumsq accumulated in int64 — exact — and sqrt correctly rounded by
    IEEE, so results are bit-identical across engines and partitionings.

    Scale: map-only (no shuffle); output is ~n_bytes/window rows per
    payload; numpy does the per-batch math on Arrow buffers.
    """
    if window <= 0:
        raise ValueError("window must be positive")

    def rms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, widx, ns, vals = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = content if content is not None else b""
                samples = np.frombuffer(b, dtype=np.uint8).astype(np.int64) - 128
                for k in range(0, len(samples), window):
                    chunk = samples[k : k + window]
                    sumsq = int((chunk * chunk).sum())
                    ids.append(mid)
                    widx.append(k // window)
                    ns.append(len(chunk))
                    vals.append(float(np.sqrt(sumsq / len(chunk))))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "window_index": pd.Series(widx, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "rms": pd.Series(vals, dtype="float64"),
                }
            )

    return media.mapInPandas(rms, AUDIO_RMS_SCHEMA)


def dedup_media_by_content(media: DataFrame) -> DataFrame:
    """Content-hash dedup over the BINARY payload column: md5 each item
    (JVM-side, no Python), keep the lowest media_id per digest, and
    report the duplicate count. The media tier's version of
    exact_dedup_hashed: only 16-byte digests + ids shuffle, payloads
    never move — at 100 TB of media that is the entire design.

    Returns (keeper_id, n_copies, content_md5) for every distinct
    payload."""
    return (
        media.select(
            F.col("media_id"), F.md5(F.col("content")).alias("content_md5")
        )
        .groupBy("content_md5")
        .agg(
            F.min("media_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper_id", "n_copies", "content_md5")
    )


#: Output schema of the dHash tiers: the 64-bit perceptual hash packed
#: as four 16-bit bands (b0..b3, each in [0, 65536)) — band-packed at
#: birth because (a) every downstream consumer (the banded near-dup
#: join) needs the bands, not the packed word, and (b) a single 64-bit
#: word would put bit 63 in the BIGINT sign, a cross-engine wrap
#: hazard the split representation never has.
DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("b0", T.LongType()),
        T.StructField("b1", T.LongType()),
        T.StructField("b2", T.LongType()),
        T.StructField("b3", T.LongType()),
    ]
)


def dhash_image(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over image payloads via PIL:
    decode -> grayscale -> 9x8 downsample -> 64 adjacent-pixel
    comparisons, packed as four 16-bit bands (DHASH_SCHEMA). The
    standard near-dup fingerprint for images: re-encodes, resizes,
    brightness/contrast shifts, and small crops land within a few bits
    of Hamming distance, while distinct images are ~32 bits apart
    (each comparison is a fair coin across unrelated images).

    Import-gated like `decode_image` (no imaging libs in this
    container); `fake_dhash_image` computes the SAME band packing over
    a deterministic byte-grid decode, exercising the identical
    schema/batch path with DuckDB-reproducible values. Undecodable
    payloads hash to all-zero bands (they group with each other, never
    with real images that have any gradient).

    Scale: map-only — payloads are read where they already sit and
    only (id, 4x16-bit bands) rows leave the stage; the near-dup pass
    downstream (`near_dup_media_by_dhash`) never moves a payload."""
    if not have_pil():
        raise NotImplementedError(
            "dHash over decoded pixels requires PIL, not present in this "
            "environment; fake_dhash_image exercises the identical band "
            "packing over a deterministic byte-grid decode"
        )

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        def one(b) -> tuple[int, int, int, int]:
            try:
                with Image.open(io.BytesIO(bytes(b))) as im:
                    px = list(im.convert("L").resize((9, 8)).getdata())
                    return _pack_dhash_bands_n(px, 4)
            except Exception:
                return 0, 0, 0, 0

        for pdf in batches:
            bands = pdf["content"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    **{
                        f"b{q}": bands.map(lambda t, q=q: t[q]).astype(
                            "int64"
                        )
                        for q in range(4)
                    },
                }
            )

    return media.mapInPandas(hash_batch, DHASH_SCHEMA)


def _fake_dhash_batch_fn(n_bands: int):
    """Vectorized batch kernel shared by `fake_dhash_image` (n_bands=4)
    and `fake_dhash_image_wide`: NumPy reproduces the scalar byte-grid
    decode + band packing bit for bit (optimization round 16, guide
    §4.2 — the per-row Python loop ran ~150 interpreted ops per
    payload; now one gather + one boolean matmul per batch). Exactness
    argument: sample index (k*n)//S is the same int64 floor-division,
    the gathered uint8 bytes compare exactly like Python ints, and the
    comparison->band packing is a 0/1 matrix product against the
    precomputed per-comparison bit weights — integer end to end
    (`test_fake_dhash_vectorized_matches_scalar` pins it against the
    scalar reference on adversarial payloads)."""
    import numpy as np

    n_samples = 8 * (2 * n_bands + 1)
    per_row, cols = 2 * n_bands, 2 * n_bands + 1
    j = np.arange(16 * n_bands, dtype=np.int64)
    left = (j // per_row) * cols + (j % per_row)
    # weights[j, q] = 1 << (j % 16) iff comparison j lands in band q
    weights = np.zeros((16 * n_bands, n_bands), dtype=np.int64)
    weights[j, j // 16] = np.int64(1) << (j % 16)
    k = np.arange(n_samples, dtype=np.int64)

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = [
                bytes(x) if x is not None else b"" for x in pdf["content"]
            ]
            n = np.fromiter(
                (len(x) for x in contents), dtype=np.int64,
                count=len(contents),
            )
            out = np.zeros((len(contents), n_bands), dtype=np.int64)
            nz = n > 0
            if nz.any():
                buf = np.frombuffer(b"".join(contents), dtype=np.uint8)
                off = np.zeros(len(contents), dtype=np.int64)
                np.cumsum(n[:-1], out=off[1:])
                idx = off[nz, None] + (k[None, :] * n[nz, None]) // n_samples
                smp = buf[idx]
                gt = smp[:, left] > smp[:, left + 1]
                out[nz] = gt.astype(np.int64) @ weights
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    **{f"b{q}": out[:, q] for q in range(n_bands)},
                }
            )

    return hash_batch


def fake_dhash_image(media: DataFrame) -> DataFrame:
    """Deterministic dHash stand-in: the 'decode' treats the payload
    bytes as the image — a nearest-neighbor downsample of the byte
    stream into the 8x9 grid (sample k of 72 is byte (k*n)//72) — then
    applies the EXACT band packing of `dhash_image`. A pure integer
    function of the input bytes, so a SQL engine reproduces it
    byte-for-byte (the mm_near_dedup oracle does, via ord/substr on
    ASCII payloads), and the schema/batch path is the real tier's.
    Empty payloads hash to all-zero bands (mirroring the real tier's
    undecodable convention). Batches hash through the vectorized NumPy
    kernel (`_fake_dhash_batch_fn`), not a per-row Python loop."""
    return media.mapInPandas(_fake_dhash_batch_fn(4), DHASH_SCHEMA)


def near_dup_media_by_dhash(
    hashes: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Hamming-bucketed near-dup pairs over dHash bands — NEVER
    all-pairs: two 64-bit hashes within Hamming distance ``max_hamming``
    <= 3 must agree on at least one of the four 16-bit bands
    (pigeonhole: 3 differing bits cannot touch all 4 bands), so
    candidate pairs come from four band-keyed equi-self-joins (one
    `posexplode` + self-join on (band index, band value)), exactly the
    LSH-band blocking `minhash_lsh_pairs` uses with the bit-exact
    guarantee LSH lacks: at max_hamming <= 3 the banding is LOSSLESS,
    every qualifying pair shares a band bucket by construction (pinned
    vs brute force by test_near_dup_dhash_banding_lossless).
    ``max_hamming`` in [4, 7] keeps the same plan but misses pairs
    whose differing bits spread across all four bands — the documented
    banding relaxation, same contract as every bucketed path here;
    past 7 the four-band split cannot support the radius (> 2 bits per
    band on average), so the call fails loudly rather than silently
    under-recalling.

    Scale: only (id, 4 bands) rows shuffle — 40 bytes/row at any
    payload size; candidates are per-(band, value) buckets, and the
    within-bucket pairing is quadratic ONLY in bucket occupancy. Skew
    posture: exact duplicates all share every band, so collapse them
    first (`dedup_media_by_content` — its keeper set is this
    operator's natural input) and a flat-image corpus (all-zero bands)
    is the remaining hot key — the same df-cap/representative-collapse
    regime as `minhash_lsh_pairs`/`semdedup_flags`, applied upstream.

    Returns (id_a, id_b, hamming) with id_a < id_b, one row per pair."""
    if not 0 <= int(max_hamming) <= 7:
        raise ValueError(
            f"max_hamming must be in [0, 7] for 4x16-bit banding, got "
            f"{max_hamming} (>= 8 differing bits can avoid every band; "
            "use a wider hash or more bands)"
        )
    bands = F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
        "band_idx", "band_val"
    )
    # Pin the hash frame ONCE: both self-join sides consume it, and
    # without the pin the upstream hash pass (a mapInPandas decode at
    # the real tiers) executes once per side — the engine-wide
    # consumed-twice convention (semdedup's assigned-frame pin).
    pinned = hashes.localCheckpoint(eager=False)
    keyed = pinned.select("media_id", "b0", "b1", "b2", "b3", bands)
    a = keyed.select(
        F.col("band_idx"),
        F.col("band_val"),
        F.col("media_id").alias("id_a"),
        *[F.col(f"b{q}").alias(f"a{q}") for q in range(4)],
    )
    b = keyed.select(
        F.col("band_idx"),
        F.col("band_val"),
        F.col("media_id").alias("id_b"),
        *[F.col(f"b{q}").alias(f"c{q}") for q in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{q}").bitwiseXOR(F.col(f"c{q}")))
        for q in range(4)
    ).cast("long")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= int(max_hamming))
        # a pair sharing several bands appears once per shared band —
        # distinct on the pair key alone (hamming is functionally
        # dependent, carried through the aggregate-free way)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _dhash_schema(n_bands: int) -> T.StructType:
    """DHASH_SCHEMA generalized to ``n_bands`` 16-bit bands (b0..b{n-1})."""
    return T.StructType(
        [T.StructField("media_id", T.LongType())]
        + [T.StructField(f"b{q}", T.LongType()) for q in range(n_bands)]
    )


def _pack_dhash_bands_n(pixels: list[int], n_bands: int) -> tuple[int, ...]:
    """16*n_bands adjacent-pixel comparisons over a row-major
    8 x (2*n_bands + 1) grid -> ``n_bands`` 16-bit bands. Comparison j
    (row r = j // (2*n_bands), col c = j % (2*n_bands)) sets bit j%16
    of band j//16 iff pixel(r,c) > pixel(r,c+1) — the difference hash:
    invariant to brightness/contrast shifts (any monotone per-pixel map
    preserves every > comparison), sensitive to structure. n_bands=4 is
    the classic 64-bit dHash over an 8x9 grid."""
    per_row = 2 * n_bands
    cols = per_row + 1
    bands = [0] * n_bands
    for j in range(16 * n_bands):
        r, c = divmod(j, per_row)
        if pixels[r * cols + c] > pixels[r * cols + c + 1]:
            bands[j // 16] |= 1 << (j % 16)
    return tuple(bands)


def fake_dhash_image_wide(media: DataFrame, n_bands: int = 8) -> DataFrame:
    """`fake_dhash_image` at a WIDER fingerprint: the byte-grid decode
    samples 8 x (2*n_bands + 1) bytes (s_k = byte (k*n)//(8*(2b+1))) and
    packs 16*n_bands comparisons into ``n_bands`` 16-bit bands — at
    n_bands=8 a 128-bit dHash, the fingerprint width the band-
    COMBINATION join (`near_dup_media_by_dhash_combo`) needs to kill
    the 16-bit-bucket birthday term at large corpus sizes. Same pure-
    integer contract as the 4-band tier: a SQL engine replays it
    byte-for-byte (mm_near_dedup_wide's oracle does). n_bands=4 + the
    single-band join is exactly the `fake_dhash_image` path."""
    if not 2 <= int(n_bands) <= 16:
        raise ValueError(f"n_bands must be in [2, 16], got {n_bands}")
    return media.mapInPandas(
        _fake_dhash_batch_fn(int(n_bands)), _dhash_schema(n_bands)
    )


def near_dup_media_by_dhash_combo(
    hashes: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    combo: int = 2,
) -> DataFrame:
    """Band-COMBINATION near-dup pairs (Manku/Das/Sarma 2007's simhash
    block-permutation trick, §3, applied to dHash bands): candidates
    must agree on an ENTIRE ``combo``-band combination, joined on the
    C(n_bands, combo) composite keys. Pigeonhole: a pair within Hamming
    ``max_hamming`` has >= n_bands - max_hamming intact bands, so any
    radius <= n_bands - combo is LOSSLESS (validated loudly); at the
    defaults (8 bands / combo 2 / radius 6) that is a WIDER exact
    radius than the single-band 4x16 path's 3.

    Why this kills the birthday term the single-band join pays
    (SCALE.md round 14): bucket keys are combo*16 bits wide, so uniform
    occupancy drops from n/2^16 to n/2^32 per bucket — candidate volume
    C(8,2)/C(4,1) = 7x more exploded rows per item but ~2^16/7x fewer
    collision pairs at large n; the crossover is at corpus sizes in the
    low millions, exactly where the single-band join's quadratic
    candidates start to bite. Exploded rows still carry only (id,
    n_bands longs): payloads never move.

    Returns (id_a, id_b, hamming) with id_a < id_b, one row per pair."""
    import itertools

    if not 1 <= int(combo) < int(n_bands):
        raise ValueError(f"combo must be in [1, {n_bands - 1}], got {combo}")
    if not 0 <= int(max_hamming) <= int(n_bands) - int(combo):
        raise ValueError(
            f"max_hamming must be in [0, {n_bands - combo}] for "
            f"{n_bands}-band combo-{combo} joins (a pair with more "
            "differing bits can avoid every intact combination), got "
            f"{max_hamming}"
        )
    bcols = [f"b{q}" for q in range(n_bands)]
    combos = list(itertools.combinations(range(n_bands), combo))
    keys = F.posexplode(
        F.array(
            *[
                F.struct(
                    *[F.col(bcols[q]).alias(f"k{i}") for i, q in enumerate(c)]
                )
                for c in combos
            ]
        )
    ).alias("combo_idx", "combo_key")
    # consumed-twice pin, as in near_dup_media_by_dhash
    keyed = hashes.localCheckpoint(eager=False).select(
        "media_id", *bcols, keys
    )
    a = keyed.select(
        "combo_idx",
        "combo_key",
        F.col("media_id").alias("id_a"),
        *[F.col(b).alias(f"a{q}") for q, b in enumerate(bcols)],
    )
    b = keyed.select(
        "combo_idx",
        "combo_key",
        F.col("media_id").alias("id_b"),
        *[F.col(bb).alias(f"c{q}") for q, bb in enumerate(bcols)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{q}").bitwiseXOR(F.col(f"c{q}")))
        for q in range(n_bands)
    ).cast("long")
    return (
        a.join(b, ["combo_idx", "combo_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def audio_energy_fingerprint(media: DataFrame) -> DataFrame:
    """Perceptual AUDIO near-dup fingerprint — the audio sibling of
    `fake_dhash_image`, same DHASH_SCHEMA, same downstream banded join
    (`near_dup_media_by_dhash` is modality-agnostic over the bands):
    the payload's energy PROFILE, difference-hashed.

    Per item: the payload is split into 65 LENGTH-NORMALIZED blocks
    (block k covers bytes [k*n//65, (k+1)*n//65) — every block
    non-empty once n >= 65), each block's energy is the int64-exact
    sum of squares of its samples (the `audio_rms_windows` decode
    stand-in — bytes as u8 PCM centered at 128 — minus the sqrt:
    comparing raw integer sumsq avoids even IEEE-correct floats), and
    the 64 adjacent energy comparisons pack as four 16-bit bands.
    Length normalization is what makes the fingerprint DENSE: every
    comparison is between two distinct blocks, so unrelated payloads
    sit ~32 bits apart (a fixed-window design collapses short payloads
    into runs of equal resampled taps — measured: 255 spurious
    cluster members at sf0.01 — which is why this is NOT resampled
    fixed windows). Invariant to uniform gain changes that preserve
    energy order between blocks; a one-sample edit touches exactly one
    block and flips at most its 2 boundary comparisons.

    Payloads under 65 samples emit NULL bands and NEVER pair: NULL
    band keys match nothing in the banded equi-join (both engines'
    equality-with-NULL semantics, mirrored by the oracle), so
    too-short items stay singletons instead of jamming one degenerate
    cluster — the deliberate contrast with the image tier's all-zero
    'no gradient' hash, which IS a real hash.

    Pure integer function of the bytes: the mm_audio_near_dedup oracle
    replays blocks, energies, and packing exactly. Map-only; only
    (id, 4 bands) rows leave the scan stage."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized (optimization round 16, guide §4.2): the scalar
        # form squared every payload byte in interpreted Python — O(n)
        # Python ops per row, the heaviest per-byte loop in the tier.
        # Now one int64 prefix sum over the batch's concatenated
        # samples makes every block energy a two-element gather
        # (cs[hi] - cs[lo] == the block's exact sum of squares), and
        # the 64 comparisons pack via a boolean matmul — integer end
        # to end, bit-identical to the scalar reference
        # (test_audio_fingerprint_vectorized_matches_scalar).
        import numpy as np

        j = np.arange(64, dtype=np.int64)
        weights = np.zeros((64, 4), dtype=np.int64)
        weights[j, j // 16] = np.int64(1) << (j % 16)
        k = np.arange(66, dtype=np.int64)

        for pdf in batches:
            contents = [
                bytes(x) if x is not None else b"" for x in pdf["content"]
            ]
            n = np.fromiter(
                (len(x) for x in contents), dtype=np.int64,
                count=len(contents),
            )
            ok = n >= 65
            out = np.zeros((len(contents), 4), dtype=np.int64)
            if ok.any():
                buf = np.frombuffer(b"".join(contents), dtype=np.uint8)
                v = buf.astype(np.int64) - 128
                np.multiply(v, v, out=v)
                cs = np.zeros(len(v) + 1, dtype=np.int64)
                np.cumsum(v, out=cs[1:])
                off = np.zeros(len(contents), dtype=np.int64)
                np.cumsum(n[:-1], out=off[1:])
                bounds = off[ok, None] + (k[None, :] * n[ok, None]) // 65
                e = cs[bounds[:, 1:]] - cs[bounds[:, :-1]]
                gt = e[:, :64] > e[:, 1:]
                out[ok] = gt.astype(np.int64) @ weights
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    **{
                        f"b{q}": pd.Series(
                            out[:, q], dtype="Int64"
                        ).mask(~ok)
                        for q in range(4)
                    },
                }
            )

    return media.mapInPandas(fp, DHASH_SCHEMA)


def near_dup_video_by_frames(
    media: DataFrame,
    frame_size: int,
    min_containment: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Perceptual VIDEO near-dup pairs — frame-set containment (the
    content-ID shape: two videos are near-dups when most of the
    shorter one's distinct frames appear in the other, which catches
    trims, re-muxes, and frame-accurate re-uploads that byte-level
    md5 misses the moment one frame differs):

      1. `sample_frames` splits each payload into complete
         ``frame_size``-byte frames (raw frame buffers — the module's
         standing decode stand-in; a codec tier slots in behind the
         same contract);
      2. each frame reduces to its md5 digest, distinct per video —
         frame identity here is EXACT; for decoded image frames the
         dHash tiers compose in this slot (hash the frame, band it),
         trading exactness for per-frame perceptual tolerance;
      3. candidate pairs come from the digest equi-self-join — videos
         meet ONLY through shared frames, never all-pairs — and
         ``containment = shared / least(n_a, n_b)`` keeps a trimmed
         copy at 1.0 (every surviving frame matches) where Jaccard
         would dilute it;
      4. ``max_df`` drops digests present in more than that many
         videos BEFORE pairing (both the sig counts and the shared
         counts see the capped set, so containment stays consistent):
         stop-frames — black frames, title cards — are the hot keys of
         this join, the same df-cap contract as `minhash_lsh_pairs`.

    Videos with zero complete frames (payload < frame_size) have no
    digests and never pair — singletons, the audio tier's too-short
    convention. Only (video id, 16-byte digest) rows shuffle; frame
    BYTES never leave their scan stage.

    Returns (id_a, id_b, shared_frames, containment) with id_a < id_b."""
    if not 0.0 < float(min_containment) <= 1.0:
        raise ValueError(
            f"min_containment must be in (0, 1], got {min_containment}"
        )
    frames = sample_frames(media, frame_size)
    # Pin the distinct sig frame ONCE: it feeds up to four consumers
    # (the df-cap aggregate, the per-video counts, and both self-join
    # sides) — without the pin the one-to-many mapInPandas framing
    # pass re-executes per consumer.
    sigs = (
        frames.select("media_id", F.md5(F.col("frame")).alias("digest"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if max_df is not None:
        ok = (
            sigs.groupBy("digest")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= int(max_df))
            .select("digest")
        )
        sigs = sigs.join(ok, "digest")
    counts = sigs.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sigs")
    )
    a = sigs.select(F.col("media_id").alias("id_a"), "digest")
    b = sigs.select(F.col("media_id").alias("id_b"), "digest")
    shared = (
        a.join(b, "digest")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_frames"))
    )
    ca = counts.select(
        F.col("media_id").alias("id_a"), F.col("n_sigs").alias("__na")
    )
    cb = counts.select(
        F.col("media_id").alias("id_b"), F.col("n_sigs").alias("__nb")
    )
    return (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "containment",
            F.col("shared_frames").cast("double")
            / F.least("__na", "__nb"),
        )
        .filter(F.col("containment") >= float(min_containment))
        .select("id_a", "id_b", "shared_frames", "containment")
    )


def semantic_verify_pairs(
    pairs: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "media_id",
    vec_col: str = "embedding",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    round_digits: int = 4,
) -> DataFrame:
    """Two-tier near-dup verification — filter PERCEPTUAL candidate
    pairs by SEMANTIC cosine: keep a pair only when both endpoints have
    an embedding row and their rounded cosine clears ``threshold``. The
    production image-dedup shape: the cheap banded candidate stage
    (dHash/audio/video containment) supplies recall, the embedding
    verify supplies precision — a dHash collision between semantically
    different items (crops of different subjects with similar byte
    texture, re-encodes that happen to sample alike) is rejected before
    it can glue two clusters together.

    Strict-verify semantics: a pair with a MISSING embedding on either
    side is DROPPED (no evidence, no merge) — the candidate tier alone
    must not merge clusters when the verifier cannot run; unembedded
    items therefore stay singletons unless another verified pair claims
    them. Scale posture: pairs are banded-join output (never all-pairs)
    and the two embedding joins shuffle only (pair ids x dim floats);
    norms are computed once per side, not per pair; nothing collects.

    Rounded-cosine convention matches the ANN tier (`F.round(cos, 4)`,
    zero-norm guard to 0.0), so the DuckDB oracle replays the verify
    bit-for-bit with the `_cos4` expression."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    emb = embeddings.select(
        F.col(id_col).alias("__eid"),
        F.col(vec_col).alias("__evec"),
        norm(vec_col).alias("__enorm"),
    )
    ea = emb.select(
        F.col("__eid").alias(pair_a),
        F.col("__evec").alias("__va"),
        F.col("__enorm").alias("__na"),
    )
    eb = emb.select(
        F.col("__eid").alias(pair_b),
        F.col("__evec").alias("__vb"),
        F.col("__enorm").alias("__nb"),
    )
    raw = F.when(
        (F.col("__na") == 0) | (F.col("__nb") == 0), F.lit(0.0)
    ).otherwise(dot("__va", "__vb") / (F.col("__na") * F.col("__nb")))
    return (
        pairs.join(ea, pair_a)
        .join(eb, pair_b)
        .withColumn("cos_sim", F.round(raw, round_digits))
        .filter(F.col("cos_sim") >= float(threshold))
        .select(pair_a, pair_b, "cos_sim")
    )


def image_text_gate(
    pairs: DataFrame,
    threshold: float,
    text_vec_col: str = "caption_embedding",
    image_vec_col: str = "image_embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Image-text PAIR quality gate (the LAION-style CLIP-score filter
    — Schuhmann et al. 2021 kept web pairs whose caption/image embedding
    cosine cleared a threshold): per paired row, the rounded cosine
    between the two embedding columns as ``clip_score`` plus the
    boolean ``kept`` verdict. AUDIT form — every input row is emitted
    with its score and decision (the curation convention every gate in
    this engine follows: the drop set is as much the product as the
    keep set); callers filter on ``kept`` downstream.

    Map-only: one row-wise expression over columns already on the row —
    no join, no shuffle, no UDF — so the gate rides whatever scan
    produces the pairs (at 100 TB it fuses into the ingest projection).
    Zero-norm embeddings score 0.0 (the ANN tier's guard), NULL
    embeddings yield NULL score and ``kept = false`` (an unembeddable
    pair cannot demonstrate alignment — same strict-verify stance as
    `semantic_verify_pairs`). Rounded-cosine convention matches `_cos4`,
    so the oracle replays score and verdict bit-for-bit."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    na, nb = norm(text_vec_col), norm(image_vec_col)
    raw = F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
        dot(text_vec_col, image_vec_col) / (na * nb)
    )
    return pairs.withColumn(
        "clip_score", F.round(raw, round_digits)
    ).withColumn(
        "kept",
        F.coalesce(
            F.col("clip_score") >= float(threshold), F.lit(False)
        ),
    )


def shard_payload_blobs(
    assignment: DataFrame,
    payloads: DataFrame,
    budget: int,
    id_col: str = "media_id",
    payload_col: str = "content",
    strict: bool = True,
) -> DataFrame:
    """The BYTE MOVER closing the shard-materialization loop (round 16
    — `materialize_media_shards` ships the loader MANIFEST of ids and
    offsets; this op ships the bytes): join each packed item's payload
    to its `pack_sequences` assignment and assemble, per
    ``(pack_stream, shard_id)``, the exact byte blob a trainer streams
    — items concatenated in ``byte_start`` order, an item whose bytes
    straddle a shard boundary (``split_across``) contributing its head
    to one shard and its tail to the next, GPT-loader style. Returns
    one row per shard: ``pack_stream, shard_id, shard_bytes,
    n_items, shard_n_bytes``; ``n_items`` counts contributing PIECES
    (a split item counts in every shard it touches).

    ``assignment`` needs ``id_col, pack_stream, byte_start, n_bytes``
    (the `materialize_media_shards` / `pipe_end_to_end_v9` output
    shape); ``payloads`` needs ``id_col, payload_col`` (binary).

    Scale shape — payload bytes move AT MOST once: the assignment sits
    on the join's LEFT deliberately, so when it arrives partitioned by
    ``pack_stream`` (it does — `pack_sequences`' window exchange) that
    partitioning SATISFIES the (pack_stream, shard_id) grouping and the
    sliced pieces aggregate with NO further exchange (measured: the
    sf0.1 plan's only exchanges are the pack window's id-row shuffle
    and the payload broadcast — piece bytes cross zero shuffles).
    When the payload side outgrows broadcast, the join becomes the
    single payload shuffle; either way the per-shard SLICES are cut
    map-side (``substr`` on the binary column, pure JVM) and every
    payload byte lands in exactly one slice. The per-shard assembly is
    a sorted-struct fold (`array_sort` + `aggregate` concat,
    whole-stage JVM, no UDF) whose state is bounded by ``budget``
    bytes — the shard's own size, the natural working-set unit of a
    loader. Every shard holds exactly ``budget`` bytes except each
    stream's last (the packing contract), enforced by a lazy
    `raise_error` guard riding the aggregation rather than a
    driver-side collect; a missing payload, or one whose bytes
    disagree with the assignment's ``n_bytes``, raises the same way
    (a hole or shift in the middle of a shard is silent corruption no
    downstream check would see)."""
    if int(budget) <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    b = F.lit(int(budget))
    a = assignment.select(
        id_col,
        "pack_stream",
        F.col("byte_start").cast("long").alias("byte_start"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    ).filter(F.col("n_bytes") > 0)
    # Payload integrity guard (the silent-rot class this engine bans):
    # an assigned item whose payload is MISSING or whose bytes disagree
    # with the assignment's n_bytes would silently corrupt the layout —
    # a hole or shift in the middle of a shard that no downstream check
    # sees (the budget guard below only catches inflation). strict=True
    # (default) catches BOTH with a left join + lazy raise_error riding
    # the scan — but preserving the assignment side means Catalyst
    # cannot broadcast it (LeftOuter only builds right), so at scale
    # the join is a sort-merge that shuffles the payload bytes ONCE
    # MORE than the aggregation needs. strict=False keeps the
    # length-mismatch guard (free on the inner join) but trusts
    # referential COMPLETENESS — every assigned id present in payloads,
    # e.g. both frames cut from the same committed labeling — letting
    # Catalyst broadcast the assignment and the payload bytes move
    # exactly once (the aggregation shuffle).
    how = "left" if strict else "inner"
    missing = (
        (F.col(payload_col).isNull() if strict else F.lit(False))
        | (F.length(payload_col) != F.col("n_bytes"))
    )
    if not strict:
        # The trusted contract is ALSO a size assertion: the assignment
        # is id+offset rows, the definitionally small side, and hinting
        # it broadcast is what actually buys the single-payload-shuffle
        # plan — without CBO, Catalyst estimates the projected
        # assignment at its source table's file size and sort-merges
        # anyway (measured: the un-hinted trusted path still shuffled
        # payload bytes twice at 10x). An assignment too large to
        # broadcast belongs on the strict path's sort-merge join.
        a = F.broadcast(a)
    joined = (
        a.join(payloads.select(id_col, payload_col), id_col, how)
        .withColumn(
            payload_col,
            F.when(
                missing,
                F.raise_error(
                    F.concat(
                        F.lit("payload mismatch for assigned item "),
                        F.col(id_col).cast("string"),
                        F.lit(": expected n_bytes="),
                        F.col("n_bytes").cast("string"),
                        F.lit(", payload has "),
                        F.coalesce(
                            F.length(payload_col).cast("string"),
                            F.lit("NULL"),
                        ),
                    )
                ).cast("binary"),
            ).otherwise(F.col(payload_col)),
        )
    )
    first = F.floor(F.col("byte_start") / b).cast("long")
    last = F.floor((F.col("byte_start") + F.col("n_bytes") - 1) / b).cast(
        "long"
    )
    off = F.col("shard_id") * b - F.col("byte_start")
    cut_start = F.greatest(F.lit(0).cast("long"), off)
    cut_end = F.least(F.col("n_bytes"), off + b)
    pieces = (
        joined.select(
            "pack_stream",
            "byte_start",
            "n_bytes",
            payload_col,
            F.explode(F.sequence(first, last)).alias("shard_id"),
        )
        # slice map-side: only (keys, piece) rows reach the shuffle
        .select(
            "pack_stream",
            "shard_id",
            "byte_start",
            F.col(payload_col)
            .substr(
                (cut_start + 1).cast("int"),
                (cut_end - cut_start).cast("int"),
            )
            .alias("piece"),
        )
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("byte_start"), F.col("piece")))
        ),
        lambda s: s["piece"],
    )
    blob = F.aggregate(
        ordered, F.lit(b"").cast("binary"), lambda acc, x: F.concat(acc, x)
    )
    return (
        pieces.groupBy("pack_stream", "shard_id")
        .agg(blob.alias("shard_bytes"), F.count("*").alias("n_items"))
        .withColumn(
            "shard_n_bytes",
            F.when(
                F.length("shard_bytes") > b,
                F.raise_error(
                    F.concat(
                        F.lit("shard over budget: stream "),
                        F.col("pack_stream").cast("string"),
                        F.lit(" shard "),
                        F.col("shard_id").cast("string"),
                        F.lit(f" exceeds {int(budget)} bytes"),
                    )
                ).cast("long"),
            ).otherwise(F.length("shard_bytes").cast("long")),
        )
    )
