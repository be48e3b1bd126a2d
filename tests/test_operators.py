"""Operator unit tests: voxel golden semantics, as-of edge cases, spatial
predicates, multimodal plumbing, dedup building blocks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from usgs_lidar_spark.multimodal import fake_decode_image, to_media_table, decode_image
from usgs_lidar_spark.operators.asof import asof_join
from usgs_lidar_spark.operators.dedup import char_shingles
from usgs_lidar_spark.operators.spatial import (
    bbox_contains,
    filter_within_polygon,
    polygon_bbox,
)
from usgs_lidar_spark.operators.voxel import voxel_downsample


def test_voxel_downsample_golden(spark):
    """Reference semantics: keys = floor((p - min)/res); barycenter = mean
    (scripts/usgs_lidar.py:416-427). 4 points, res=2 -> 2 voxels."""
    df = spark.createDataFrame(
        [(0.0,), (1.0,), (2.0,), (3.0,)], ["x"]
    )
    out = {r["ix"]: r.asDict() for r in voxel_downsample(df, ["x"], [2.0]).collect()}
    assert out[0]["n_points"] == 2 and out[0]["cx"] == 0.5
    assert out[1]["n_points"] == 2 and out[1]["cx"] == 2.5


def test_bbox_containment_not_intersection(spark):
    """The reference's F2 is containment (region covers query), not overlap
    (scripts/usgs_lidar.py:297-303): an overlapping-but-not-containing
    region must NOT qualify."""
    cat = spark.createDataFrame(
        [("covers", 0.0, 100.0, 0.0, 100.0), ("overlaps", 5.0, 15.0, 5.0, 15.0)],
        ["name", "xmin", "xmax", "ymin", "ymax"],
    )
    got = [
        r["name"]
        for r in cat.filter(
            bbox_contains(qminx=10.0, qmaxx=20.0, qminy=10.0, qmaxy=20.0)
        ).collect()
    ]
    assert got == ["covers"]


def _even_odd(poly, x, y):
    """Pure-Python even-odd rule, edge by edge as `point_in_polygon`."""
    crossings = 0
    for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1]):
        x1, y1, x2, y2 = float(x1), float(y1), float(x2), float(y2)
        if ((y1 <= y) != (y2 <= y)) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
            crossings += 1
    return crossings % 2 == 1


def test_point_in_polygon_concave(spark):
    """The even-odd crop handles concave polygons (beyond the convex
    oracle): a C-shape whose notch must be excluded. A half-unit grid
    over its bbox (every vertex, points on vertical, horizontal and notch
    edges, and a ring just outside) pins the boundary decisions against
    a pure-Python even-odd reference."""
    poly = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 7), (8, 7), (8, 3), (0, 3)]
    pts = spark.createDataFrame(
        [(1.0, 1.0, "in_lower"), (1.0, 5.0, "in_notch"), (9.0, 5.0, "in_right"),
         (1.0, 9.0, "in_upper"), (20.0, 5.0, "outside")],
        ["x", "y", "tag"],
    )
    got = {r["tag"] for r in filter_within_polygon(pts, poly).collect()}
    assert got == {"in_lower", "in_right", "in_upper"}

    steps = [0.5 * k for k in range(-1, 22)]  # -0.5 .. 10.5
    grid = spark.createDataFrame([(x, y) for x in steps for y in steps], ["x", "y"])
    got = {(r["x"], r["y"]) for r in filter_within_polygon(grid, poly).collect()}
    want = {(x, y) for x in steps for y in steps if _even_odd(poly, x, y)}
    assert got == want
    # Half-open convention: left/bottom boundaries in, right/top out.
    edge_pts = {(0.0, 0.0), (5.0, 0.0), (0.0, 8.0), (8.0, 5.0), (4.0, 7.0),
                (10.0, 5.0), (5.0, 10.0), (4.0, 3.0), (0.0, 5.0)}
    assert edge_pts & got == {(0.0, 0.0), (5.0, 0.0), (0.0, 8.0), (8.0, 5.0), (4.0, 7.0)}


def test_asof_left_join_no_match(spark):
    left = spark.createDataFrame([(1, 5, "a"), (1, 1, "b")], ["uid", "t", "tag"])
    right = spark.createDataFrame([(1, 3, 9.0)], ["uid", "t", "v"])
    out = asof_join(
        left, right, ["uid"], "t", ["v"], tie_break="v", how="left"
    ).collect()
    by_tag = {r["tag"]: r.asDict() for r in out}
    assert by_tag["a"]["asof_v"] == 9.0  # 3 <= 5 matched
    assert by_tag["b"]["asof_t"] is None  # nothing at or before 1
    # inner drops the unmatched row
    inner = asof_join(left, right, ["uid"], "t", ["v"], tie_break="v").collect()
    assert len(inner) == 1


def test_asof_equal_ts_inclusive(spark):
    """<= semantics: a right row at exactly the left timestamp matches."""
    left = spark.createDataFrame([(1, 5)], ["uid", "t"])
    right = spark.createDataFrame([(1, 5, 7.0)], ["uid", "t", "v"])
    out = asof_join(left, right, ["uid"], "t", ["v"], tie_break="v").collect()
    assert out[0]["asof_v"] == 7.0


def test_multimodal_plumbing(spark):
    from usgs_lidar_spark.multimodal import have_pil

    docs = spark.createDataFrame([(1, "hello"), (2, "")], ["doc_id", "text"])
    media = to_media_table(docs, "doc_id", "text")
    assert dict(media.dtypes)["content"] == "binary"
    decoded = {r["media_id"]: r.asDict() for r in fake_decode_image(media).collect()}
    assert decoded[1]["width"] == 5 % 640 + 1 and decoded[1]["channels"] == 3
    if not have_pil():
        with pytest.raises(NotImplementedError):
            decode_image(media)


def _make_png(width: int, height: int) -> bytes:
    """A fully valid RGBA PNG built with stdlib only (zlib + struct):
    signature, IHDR, one zlib-compressed IDAT of filter-0 scanlines, IEND.
    Decodable by any real decoder, so the PIL-gated test reuses it."""
    import struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(4 * width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _media_from_bytes(spark, payloads):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(i, b) for i, b in enumerate(payloads)], ["media_id", "content"]
    ).select(
        F.col("media_id").cast("long"),
        F.lit("image").alias("media_type"),
        "content",
        F.length("content").cast("long").alias("n_bytes"),
    )


def test_probe_image_dims_real_headers(spark):
    """Header probe parses genuine PNG/JPEG/GIF/BMP byte layouts — no
    imaging library involved — and flags garbage as (-1,-1,-1)."""
    import struct

    from usgs_lidar_spark.multimodal import probe_image_dims

    png = _make_png(97, 53)
    # JPEG: SOI, APP0 (skippable), SOF0 carrying 8-bit 130x240, 3 comps.
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 240, 130) + b"\x03" + bytes(9)
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + bytes(4)
    bmp = (
        b"BM" + bytes(16)
        + struct.pack("<ii", 64, -48)  # top-down rows: negative height
        + bytes(2) + struct.pack("<H", 24) + bytes(8)
    )
    media = _media_from_bytes(spark, [png, jpeg, gif, bmp, b"not an image"])
    got = {r["media_id"]: r.asDict() for r in probe_image_dims(media).collect()}
    assert (got[0]["width"], got[0]["height"], got[0]["channels"]) == (97, 53, 4)
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (130, 240, 3)
    assert (got[2]["width"], got[2]["height"], got[2]["channels"]) == (320, 200, 3)
    assert (got[3]["width"], got[3]["height"], got[3]["channels"]) == (64, 48, 3)
    assert (got[4]["width"], got[4]["height"], got[4]["channels"]) == (-1, -1, -1)


def test_decode_image_pil_gated(spark):
    """With PIL present, decode_image agrees with the header probe on a
    real PNG; without it, the gate (exercised above) is the behavior."""
    from usgs_lidar_spark.multimodal import have_pil, probe_image_dims

    if not have_pil():
        pytest.skip("PIL not installed in this container")
    media = _media_from_bytes(spark, [_make_png(31, 17), b"junk"])
    decoded = {r["media_id"]: r.asDict() for r in decode_image(media).collect()}
    probed = {r["media_id"]: r.asDict() for r in probe_image_dims(media).collect()}
    assert decoded[0] == probed[0]
    assert (decoded[0]["width"], decoded[0]["height"], decoded[0]["channels"]) == (
        31, 17, 4,
    )
    assert decoded[1]["width"] == -1


def test_char_shingles_short_doc(spark):
    """Docs shorter than k yield zero shingles (matches the oracle SQL)."""
    docs = spark.createDataFrame([(1, "abc"), (2, "abcdefghij")], ["doc_id", "text"])
    sh = char_shingles(docs, "text", "doc_id", k=8)
    got = sh.groupBy("doc_id").count().collect()
    assert {r["doc_id"]: r["count"] for r in got} == {2: 3}


def test_shingle_apis_cap_stop_shingles_by_default(spark):
    """Safe-at-scale defaults: the df cap is finite unless explicitly
    disabled — a stop-shingle present in every document is dropped by
    default and only joins all-pairs on max_df=None opt-out."""
    import inspect

    from usgs_lidar_spark.operators.dedup import (
        char_shingles,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    for fn in (char_shingles, ngram_jaccard_pairs, minhash_lsh_pairs):
        default = inspect.signature(fn).parameters["max_df"].default
        assert default is not None and default > 0, fn.__name__

    # 25 docs sharing one stop-shingle ("AAAAAAAA"), each with a unique tail.
    docs = spark.createDataFrame(
        [(i, "AAAAAAAA" + f"{i:08d}") for i in range(25)], ["doc_id", "text"]
    )
    capped = char_shingles(docs, "text", "doc_id", k=8)
    assert capped.filter("shingle = 'AAAAAAAA'").count() == 0  # df=25 > 20
    uncapped = char_shingles(docs, "text", "doc_id", k=8, max_df=None)
    assert uncapped.filter("shingle = 'AAAAAAAA'").count() == 25


def test_char_shingles_fractional_cap(spark):
    """max_df_frac on char_shingles itself (round 11: the lazy
    fractional idiom moved from contaminated_docs into the shared
    shingle builder): resolves against shingle-BEARING docs, matches
    the equivalent absolute cap exactly, and keeps the overlap matrix
    scale-stable under corpus replication — the absolute cap provably
    does not (SCALE.md: 89 vs 190 pairs at 10x)."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.dedup import (
        char_shingles,
        source_overlap_matrix,
    )

    # 25 docs share a stop-shingle; one doc is too short to shingle
    # (must not count in the fraction denominator: n = 25, not 26).
    rows = [(i, "AAAAAAAA" + f"{i:08d}") for i in range(25)] + [(99, "x")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # ceil(0.8 * 25) = 20 -> identical to the absolute default cap.
    frac = char_shingles(docs, "text", "doc_id", k=8, max_df_frac=0.8)
    absv = char_shingles(docs, "text", "doc_id", k=8, max_df=20)
    assert sorted(map(tuple, frac.collect())) == sorted(
        map(tuple, absv.collect())
    )
    assert frac.filter("shingle = 'AAAAAAAA'").count() == 0  # 25 > 20
    # ceil(1.0 * 25) = 25 keeps everything.
    assert (
        char_shingles(docs, "text", "doc_id", k=8, max_df_frac=1.0)
        .filter("shingle = 'AAAAAAAA'")
        .count()
        == 25
    )
    for bad in (0.0, -0.1, 1.5):
        with _pytest.raises(ValueError, match="max_df_frac"):
            char_shingles(docs, "text", "doc_id", k=8, max_df_frac=bad)

    # Scale stability on the overlap matrix: two sources sharing one
    # rare shingle, replicated 3x. The fractional matrix is identical
    # per-pair at 1x and 3x; the absolute cap at 2 loses the pair.
    base = [
        (0, "sharedshingle00A-alpha", "src_a"),
        (1, "sharedshingle00B-bravo", "src_b"),
    ]
    one = spark.createDataFrame(base, ["doc_id", "text", "source"])
    three = spark.createDataFrame(
        [(r[0] + 10 * k, r[1], r[2]) for k in range(3) for r in base],
        ["doc_id", "text", "source"],
    )

    def pairs(df, **kw):
        return sorted(
            (r["src_a"], r["src_b"], r["n_shared"])
            for r in source_overlap_matrix(df, **kw).collect()
        )

    assert pairs(one, max_df=None, max_df_frac=1.0) == pairs(
        three, max_df=None, max_df_frac=1.0
    )
    assert pairs(one, max_df=2) != [] and pairs(three, max_df=2) == []


def test_token_shingles_grams_and_guards(spark):
    """token_shingles (round 11): n consecutive whitespace tokens
    rejoined with single spaces, lowercased by default; docs with fewer
    than n tokens yield nothing (the sequence(1,0) descending trap is
    guarded exactly like char_shingles); the shared df-cap drops
    corpus-wide stop-grams; n must be positive."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.dedup import token_shingles

    docs = spark.createDataFrame(
        [
            (1, "The  quick\tbrown fox jumps"),
            (2, "quick brown fox leaps high"),
            (3, "too short"),
            (4, "   "),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["shingle"])
        for r in token_shingles(docs, "text", "doc_id", n=3).collect()
    }
    assert (1, "the quick brown") in got          # multi-space collapsed
    assert (1, "quick brown fox") in got
    assert (2, "quick brown fox") in got          # shared phrase
    assert not any(d in (3, 4) for d, _ in got)   # < n tokens: no grams
    # df cap: the shared gram is in 2 docs; cap 1 drops it, keeps rest.
    capped = {
        (r["doc_id"], r["shingle"])
        for r in token_shingles(docs, "text", "doc_id", n=3, max_df=1).collect()
    }
    assert (1, "quick brown fox") not in capped
    assert (1, "the quick brown") in capped
    with _pytest.raises(ValueError, match="n must be positive"):
        token_shingles(docs, "text", "doc_id", n=0)
    with _pytest.raises(ValueError, match="unit"):
        from usgs_lidar_spark.operators.pipeline import contaminated_docs

        contaminated_docs(docs, docs, unit="bytes")


def test_semdedup_flags_min_id_keeper_and_cell_blocking(spark):
    """SemDeDup contract: scaled re-encodes (cosine 1, bytes differ)
    are dropped with the group's MIN id kept; vectors merely sharing a
    cell but not similar stay; and — the documented cluster-blocking
    tradeoff — a duplicate pair split across cells is NOT flagged
    (cell search is what buys sum-of-cell² instead of corpus²)."""
    from usgs_lidar_spark.operators.similarity import semdedup_flags

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),   # scaled dup of 0 (cos = 1)
        (2, [0.8, 0.6, 0.0, 0.0]),   # same cell as 0, cos 0.8: not a dup
        (3, [0.0, 1.0, 0.0, 0.0]),
        # 4 and 5: a TRUE near-dup pair (cos = 0.9992 >= threshold)
        # deliberately straddling the cell boundary — 4 leans toward
        # the x centroid (cos 0.713 vs 0.685), 5 toward the y/z one
        # (0.713 vs 0.688) — the pair cell blocking cannot see.
        (4, [0.52, 0.3989, 0.32, 0.0]),
        (5, [0.50, 0.42, 0.32, 0.0]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.5, 0.0])]
    got = {
        r["vec_id"]: (r["cid"], r["n_dups"], r["keep"])
        for r in semdedup_flags(corpus, cents, threshold=0.99).collect()
    }
    assert got[0] == (0, 0, True)      # group min id survives
    assert got[1] == (0, 1, False)     # scaled dup dropped
    assert got[2][2] is True           # same cell, cos 0.8: kept
    # The boundary pair is a genuine miss: above threshold, different
    # cells, both survive — the cost of sum-of-cell² vs corpus².
    assert got[4] == (0, 0, True) and got[5] == (3, 0, True)
    # Determinism under repartitioning.
    got2 = {
        r["vec_id"]: (r["cid"], r["n_dups"], r["keep"])
        for r in semdedup_flags(
            corpus.repartition(7), cents, threshold=0.99
        ).collect()
    }
    assert got2 == got


def test_semdedup_hot_cell_guard_parity_on_zipf_skew(spark):
    """Round 12 (r11 verdict lead item): the within-cell self-join is
    sum-of-cell² and sqrt-k sizing only keeps that linear for BALANCED
    cells — a Zipf-clustered corpus parks a constant fraction of rows
    in one cell at any k. With ``max_cell_size`` set, oversized cells
    are secondarily blocked by the deterministic sign-LSH bucket with
    Hamming<=1 multiprobe. Pins, on a deterministic Zipf-skewed fixture
    (one cell holding 80% of rows, scaled re-encodes as true dups):

    (a) guarded flags == exact flags, row for row — real near-dup
        pairs have identical sign patterns (scaling never flips a
        sign, perturbations stay below the coordinate magnitudes), so
        the sub-block loses nothing here;
    (b) determinism under repartitioning;
    (c) the documented relaxation: a hot-cell pair whose first-
        sub_bits signs differ in TWO bits (both coordinates essentially
        zero) is missed by the guard while exact search flags it — the
        contract the SQL oracle mirrors with bit_count(xor) <= 1."""
    import random

    from usgs_lidar_spark.operators.similarity import semdedup_flags

    rng = random.Random(7)
    dim = 16
    bases = [
        [
            (1.0 if rng.random() < 0.5 else -1.0) * (0.5 + rng.random())
            for _ in range(dim)
        ]
        for _ in range(3)
    ]
    rows, vid = [], 0
    for c, n in enumerate([160, 30, 10]):  # Zipf head: 80% in cell 0
        for i in range(n):
            v = [b + rng.uniform(-0.05, 0.05) for b in bases[c]]
            rows.append((vid, [float(x) for x in v]))
            vid += 1
            if i % 4 == 0:  # every 4th row has a scaled near-dup
                rows.append((vid, [float(x * 1.25) for x in v]))
                vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = [(c, b) for c, b in enumerate(bases)]

    exact = sorted(
        map(tuple, semdedup_flags(corpus, cents, threshold=0.99).collect())
    )
    guarded = sorted(
        map(
            tuple,
            semdedup_flags(
                corpus, cents, threshold=0.99, max_cell_size=50, sub_bits=8
            ).collect(),
        )
    )
    assert guarded == exact  # (a)
    again = sorted(
        map(
            tuple,
            semdedup_flags(
                corpus.repartition(7),
                cents,
                threshold=0.99,
                max_cell_size=50,
                sub_bits=8,
            ).collect(),
        )
    )
    assert again == guarded  # (b)

    # (c) the relaxation, pinned: cos(v1, v2) ~ 1 but signs differ in
    # bits 0 AND 1 (both coordinates sit at ~0) -> Hamming 2, missed
    # by the guard, found by exact. Cell is hot (5 > max_cell_size=3).
    eps = 1e-4
    hot = [
        (0, [eps, eps] + [1.0] * 6),
        (1, [-eps, -eps] + [1.0] * 6),  # true dup of 0, 2 sign flips
        (2, [1.0] * 8),
        (3, [0.9, 1.1] + [1.0] * 6),
        (4, [1.1, 0.9] + [1.0] * 6),
    ]
    hdf = spark.createDataFrame(hot, "vec_id long, embedding array<double>")
    hc = [(0, [1.0] * 8)]
    ex = {
        r["vec_id"]: r["n_dups"]
        for r in semdedup_flags(hdf, hc, threshold=0.99).collect()
    }
    gd = {
        r["vec_id"]: r["n_dups"]
        for r in semdedup_flags(
            hdf, hc, threshold=0.99, max_cell_size=3, sub_bits=8
        ).collect()
    }
    assert ex[1] >= 1          # exact sees the pair
    assert gd[1] == ex[1] - 1  # guard misses exactly the Hamming-2 pair


def _drain_batches(spark, rows, cents, n_history, batch_sizes, **kw):
    """Split `rows` (id-sorted) into history + consecutive batches and
    drain them through semdedup_append_flags/ivf_append; returns
    {vec_id: (cid, n_dups, keep)} for all batch rows."""
    from usgs_lidar_spark.operators.similarity import (
        ivf_append,
        ivf_assign,
        semdedup_append_flags,
    )

    def df(sub):
        return spark.createDataFrame(
            sub, "vec_id long, embedding array<double>"
        )

    hist = ivf_assign(df(rows[:n_history]), cents)
    out, lo = {}, n_history
    for n in batch_sizes:
        batch = rows[lo : lo + n]
        lo += n
        for r in semdedup_append_flags(hist, df(batch), cents, **kw).collect():
            out[r["vec_id"]] = (r["cid"], r["n_dups"], r["keep"])
        hist = ivf_append(hist, df(batch), cents)
    assert lo == len(rows)
    return out


def test_semdedup_append_drain_equals_oneshot(spark):
    """Multi-batch drain (r12 verdict item 2): flags computed batch-by-
    batch via semdedup_append_flags + ivf_append must equal the one-shot
    semdedup_flags answer restricted to batch ids — the monotone-id
    immutability argument, checked over THREE batches whose duplicate
    pairs span every arm (batch x history, batch x earlier batch,
    within-batch)."""
    import random

    from usgs_lidar_spark.operators.similarity import semdedup_flags

    rng = random.Random(13)
    dim = 8
    bases = [
        [
            (1.0 if rng.random() < 0.5 else -1.0) * (0.5 + rng.random())
            for _ in range(dim)
        ]
        for _ in range(3)
    ]
    rows = []
    for vid in range(60):
        if vid % 5 == 4:
            # scaled near-dup of an EARLIER row — dup pairs cross every
            # history/batch boundary as the drain cuts move.
            src = rows[vid - rng.randrange(1, min(vid, 25) + 1)][1]
            rows.append((vid, [x * 1.25 for x in src]))
        else:
            b = bases[vid % 3]
            rows.append(
                (vid, [x + rng.uniform(-0.05, 0.05) for x in b])
            )
    cents = list(enumerate(bases))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    oneshot = {
        r["vec_id"]: (r["cid"], r["n_dups"], r["keep"])
        for r in semdedup_flags(corpus, cents, threshold=0.99).collect()
        if r["vec_id"] >= 24
    }
    drained = _drain_batches(
        spark, rows, cents, n_history=24, batch_sizes=[12, 12, 12],
        threshold=0.99,
    )
    assert drained == oneshot


def test_semdedup_append_guard_matches_oneshot_when_history_hot(spark):
    """Guarded incremental (ADVICE r12 low): with max_cell_size threaded
    through, batch-wise flags equal the GUARDED one-shot answer whenever
    each touched cell sits on the same side of the hotness threshold at
    flag time as in the final corpus — here history alone makes every
    cell hot, the always-true case the docstring names. Also pins that
    the guard actually engages (same relaxation as the one-shot: the
    keep decision may differ from the EXACT path only on Hamming>1
    sign-pattern pairs, none of which exist in this fixture)."""
    import random

    from usgs_lidar_spark.operators.similarity import semdedup_flags

    rng = random.Random(29)
    dim = 8
    base = [1.0] * dim
    rows = []
    for vid in range(40):
        if vid % 4 == 3:
            src = rows[vid - rng.randrange(1, min(vid, 10) + 1)][1]
            rows.append((vid, [x * 1.5 for x in src]))
        else:
            rows.append(
                (vid, [x + rng.uniform(-0.3, 0.3) for x in base])
            )
    cents = [(0, base)]  # one cell; history (20 rows) >> max_cell_size
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.99, max_cell_size=8, sub_bits=8)
    oneshot = {
        r["vec_id"]: (r["cid"], r["n_dups"], r["keep"])
        for r in semdedup_flags(corpus, cents, **kw).collect()
        if r["vec_id"] >= 20
    }
    drained = _drain_batches(
        spark, rows, cents, n_history=20, batch_sizes=[10, 10], **kw
    )
    assert drained == oneshot
    # the guarded drain loses nothing vs the exact drain here (all
    # coordinates bounded away from 0 -> dup signs identical)
    exact = _drain_batches(
        spark, rows, cents, n_history=20, batch_sizes=[10, 10],
        threshold=0.99,
    )
    assert drained == exact


def test_semdedup_rep_collapse_keep_set_on_degenerate_cell(spark):
    """Round 13: representative collapse (max_bucket_size) — the rung
    above the hot-cell guard for the regime the sub-block cannot split
    (near-identical hot cell = one sign pattern = one bucket). Pins, on
    a fixture with a 30-row near-identical hot cell plus a small cold
    cell with its own dup pair:

    (a) KEEP SET equality with exact search — in the near-identical
        regime every member matches the representative, so min id
        survives and everything else drops, exactly like exact;
    (b) the documented audit-count difference: jammed members see ONLY
        the representative (n_dups == 1) where exact counts every
        lower-id neighbor;
    (c) the cold cell is byte-identical to exact (collapse touches only
        jammed hot buckets);
    (d) determinism under repartitioning;
    (e) the contract error: max_bucket_size without max_cell_size."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.similarity import semdedup_flags

    dim = 8
    rows = [
        # hot cell: 30 near-identical rows around [1]*8 (same signs,
        # noise 1e-3 << 1 so every pairwise cosine ~ 1 >= 0.99)
        (i, [1.0 + ((i * 37 + j * 11) % 19 - 9) * 1e-3 for j in range(dim)])
        for i in range(30)
    ] + [
        # cold cell: 3 rows near -[1]*8, rows 100/101 a true dup pair
        # (101 = 1.25x of 100), 102 orthogonal-ish enough to be kept
        (100, [-1.0] * dim),
        (101, [-1.25] * dim),
        (102, [-1.0] * 4 + [-0.2] * 4),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0] * dim), (1, [-1.0] * dim)]
    kw = dict(threshold=0.99, max_cell_size=8, sub_bits=8)
    exact = {
        r["vec_id"]: (r["n_dups"], r["keep"])
        for r in semdedup_flags(corpus, cents, **kw).collect()
    }
    capped = {
        r["vec_id"]: (r["n_dups"], r["keep"])
        for r in semdedup_flags(
            corpus, cents, max_bucket_size=8, **kw
        ).collect()
    }
    assert {v for v, (_n, k) in exact.items() if k} == {0, 100, 102}
    assert {v for v, (_n, k) in capped.items() if k} == {0, 100, 102}  # (a)
    assert exact[29][0] == 29 and capped[29][0] == 1  # (b)
    for v in (100, 101, 102):
        assert capped[v] == exact[v]  # (c)
    again = {
        r["vec_id"]: (r["n_dups"], r["keep"])
        for r in semdedup_flags(
            corpus.repartition(7), cents, max_bucket_size=8, **kw
        ).collect()
    }
    assert again == capped  # (d)
    with _pytest.raises(ValueError, match="max_cell_size"):
        semdedup_flags(corpus, cents, threshold=0.99, max_bucket_size=8)


def test_ivf_two_level_probe_all_matches_flat(spark):
    """Large-k quantizer tier (r12 verdict item 4 / r11 item 3): with the
    quantizer as a DataFrame, coarse->fine assignment probing ALL coarse
    cells must be BIT-IDENTICAL to flat ivf_assign — same rounded-cosine
    arithmetic, same (max sim, min cid) tie rule — including __csim and
    under repartitioning. Smaller n_probe_coarse is the documented IMI
    approximation: never a better sim than flat, never null."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        derive_coarse_quantizer,
        ivf_assign,
        ivf_assign_two_level,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 24).collect()
    ]
    cdf = spark.createDataFrame(cents, "cid long, cvec array<double>")
    flat = sorted(
        (r["vec_id"], r["__cid"], r["__csim"])
        for r in ivf_assign(emb, cents, keep_sim=True).collect()
    )
    coarse = derive_coarse_quantizer(cdf)
    assert 2 <= len(coarse) < len(cents)  # genuinely two-level
    tl = sorted(
        (r["vec_id"], r["__cid"], r["__csim"])
        for r in ivf_assign_two_level(
            emb, cdf, coarse=coarse, n_probe_coarse=len(coarse),
            keep_sim=True,
        ).collect()
    )
    assert tl == flat
    again = sorted(
        (r["vec_id"], r["__cid"], r["__csim"])
        for r in ivf_assign_two_level(
            emb.repartition(7), cdf, coarse=coarse,
            n_probe_coarse=len(coarse), keep_sim=True,
        ).collect()
    )
    assert again == flat
    # n_probe=1: the IMI approximation contract — assigned sim never
    # exceeds the flat optimum, assignment never null.
    one = sorted(
        (r["vec_id"], r["__cid"], r["__csim"])
        for r in ivf_assign_two_level(
            emb, cdf, coarse=coarse, n_probe_coarse=1, keep_sim=True
        ).collect()
    )
    assert all(c is not None for _v, c, _s in one)
    assert all(a[2] <= b[2] for a, b in zip(one, flat))


def test_semdedup_flags_accepts_dataframe_quantizer(spark):
    """semdedup_flags/ivf_append take the DataFrame quantizer form through
    ivf_assign's dispatch. True dup groups still collapse under ANY
    n_probe_coarse — a scaled copy has identical rounded cosines to every
    centroid, hence identical coarse probes and identical final cell."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import semdedup_flags

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    reups = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.25)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(reups)
    cdf = emb.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    out = {
        r["vec_id"]: (r["n_dups"], r["keep"])
        for r in semdedup_flags(corpus, cdf, threshold=0.99).collect()
    }
    n = emb.count()
    assert len(out) == n + (n + 6) // 7
    for v in range(0, n, 7):
        assert out[v] == (0, True)  # group min id survives
        assert out[v + 100000] == (1, False)  # its re-encode is dropped


def test_exact_dedup_hashed_matches_text_key(spark):
    """Hash-first dedup (shuffles hashes, never text) must agree with the
    text-key form on (keep_id, n_copies), with no detected collisions."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.dedup import exact_dedup, exact_dedup_hashed

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    by_text = sorted(
        (r["keep_id"], r["n_copies"])
        for r in exact_dedup(d, "text", "doc_id").collect()
    )
    hashed = exact_dedup_hashed(d, "text", "doc_id").collect()
    assert sorted((r["keep_id"], r["n_copies"]) for r in hashed) == by_text
    assert all(r["n_variants"] == 1 for r in hashed)


def test_exact_dedup_hashed_second_family_independent(spark):
    """The verification hash must be an independent family, not a function
    of the primary. Spark folds multi-arg xxhash64 sequentially (each
    argument's hash seeds the next), so the former xxhash64(text, lit(1))
    was XXH64(1, seed=__h1) — any primary collision silently collided on
    it too and n_variants could never fire. Salt-first xxhash64(lit(1),
    text) hashes the TEXT under a different effective seed.

    (a) pins the salt-first argument order in the analyzed plan;
    (b) injects primary collisions by narrowing __h1 to 4 bits and asserts
        n_variants actually counts the distinct texts per bucket.
    """
    from usgs_lidar_spark.operators.dedup import exact_dedup_hashed

    docs = spark.createDataFrame(
        [(i, f"document body number {i}") for i in range(64)],
        ["doc_id", "text"],
    )
    out = exact_dedup_hashed(docs, "text", "doc_id")
    # Best-effort plan pin: the pretty-printed argument order is a Spark
    # rendering detail that may change across versions, so only assert when
    # the current version renders xxhash64 args at all; the behavioral
    # collision-injection assertions below are the real guarantee.
    plan = out._jdf.queryExecution().analyzed().toString()
    if "xxhash64(" in plan and "text" in plan:
        assert "xxhash64(text, 1" not in plan, plan  # the dependent-fold form

    # 64 distinct texts into <=16 4-bit buckets: pigeonhole guarantees
    # shared primary buckets, and every collision must be flagged.
    forced = exact_dedup_hashed(docs, "text", "doc_id", primary_bits=4).collect()
    assert sum(r["n_copies"] for r in forced) == 64
    assert any(r["n_variants"] > 1 for r in forced)
    # distinct texts never hash-collide on the secondary at this scale:
    # every bucket's variant count equals its occupant count.
    assert all(r["n_variants"] == r["n_copies"] for r in forced)


def test_simhash_hot_bucket_cap(spark):
    """max_bucket caps (block, value) bucket occupancy before the
    self-join. A generous cap changes nothing (capped == uncapped); a
    cap of 1 empties every shared bucket, so no pairs survive — the
    degenerate-hot-bucket quadratic is bounded by construction."""
    from usgs_lidar_spark.operators.dedup import (
        simhash_portable_near_dup_pairs,
    )

    base = [f"w{i}" for i in range(40)]
    rows = [
        (1, " ".join(base)),
        (2, " ".join(base)),
        (3, " ".join(base[:38] + ["x1", "x2"])),
        (4, " ".join(f"v{i}" for i in range(40))),
        (5, " ".join(base[:39] + ["x3"])),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(**kw):
        return sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_portable_near_dup_pairs(
                docs, n_bits=32, max_hamming=3, n_blocks=4, **kw
            ).collect()
        )

    uncapped = pairs()
    assert pairs(max_bucket=100) == uncapped and uncapped  # generous cap: no-op
    assert pairs(max_bucket=1) == []  # shared buckets all dropped


def test_multiprobe_recall_superset_of_single_probe(spark):
    """Hamming<=1 probing must retrieve a superset of single-probe's
    candidate space, and Hamming<=2 a superset of Hamming<=1's, so the
    exact neighbors each radius finds can only grow with it."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = pairs(cosine_topk_bruteforce(emb, q, k=5))
    single = pairs(cosine_topk_lsh(emb, q, k=5, n_bits=8))
    multi = pairs(cosine_topk_lsh(emb, q, k=5, n_bits=8, hamming=1))
    multi2 = pairs(cosine_topk_lsh(emb, q, k=5, n_bits=8, hamming=2))
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)
    assert multi & exact <= multi2 & exact
    assert len(multi2) >= len(multi)


def test_ivf_assign_no_shuffle_and_correct(spark):
    """Cell assignment is a pure expression (plan has no Exchange before
    the scan's project) and picks the max-cosine centroid."""
    import io
    import contextlib

    from usgs_lidar_spark.operators.similarity import ivf_assign

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = [(10, [1.0, 0.0]), (20, [0.0, 1.0])]
    out = {r["vec_id"]: r["__cid"] for r in ivf_assign(df, cents).collect()}
    assert out == {1: 10, 2: 20, 3: 10}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ivf_assign(df, cents).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_ivf_topk_probes_beat_single_cell(spark):
    """IVF with n_probe=k_cells degenerates to exact brute force — pins
    the probe/join mechanics against the exact baseline."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = ivf_topk(emb, q, cents, k=5, n_probe=4)
    exact = cosine_topk_bruteforce(emb, q, k=5)
    got = sorted(tuple(r) for r in full.collect())
    want = sorted(tuple(r) for r in exact.collect())
    assert got == want


def test_ivf_broadcast_path_matches_expr_path(spark):
    """The plan-size-O(1) broadcast quantizer must be bit-identical to the
    literal-unrolled expression path: same cell assignments on a 70-cell
    quantizer (above the auto threshold, so `auto` == broadcast there) and
    same ivf_topk output on real embeddings. Also pins that the broadcast
    path adds no Exchange of the corpus (assignment still rides the scan;
    the only extra node is the one-row BroadcastNestedLoopJoin)."""
    import contextlib
    import io

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        _EXPR_PATH_MAX_K,
        ivf_assign,
        ivf_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = emb.limit(70).collect()
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    ]
    assert len(cents) > _EXPR_PATH_MAX_K  # auto must take the broadcast path

    by_expr = {
        r["vec_id"]: r["__cid"]
        for r in ivf_assign(emb, cents, method="expr").collect()
    }
    by_bcast = {
        r["vec_id"]: r["__cid"]
        for r in ivf_assign(emb, cents, method="auto").collect()
    }
    assert by_expr == by_bcast

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ivf_assign(emb, cents, method="broadcast").explain("formatted")
    plan = buf.getvalue()
    # The ONE-ROW quantizer broadcast is expected (BroadcastExchange); what
    # must never appear is a shuffle of the corpus itself.
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_e = sorted(
        tuple(r) for r in ivf_topk(emb, q, cents, k=5, n_probe=3, method="expr").collect()
    )
    got_b = sorted(
        tuple(r)
        for r in ivf_topk(emb, q, cents, k=5, n_probe=3, method="broadcast").collect()
    )
    assert got_e == got_b and got_e


def test_ivf_broadcast_preserves_caller_cents_column(spark):
    """The broadcast quantizer's temp column is uniquified, so a caller's
    own `__cents` column survives ivf_assign untouched."""
    from usgs_lidar_spark.operators.similarity import ivf_assign

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], "keep-me"), (1, [0.0, 1.0], "keep-me-too")],
        ["vec_id", "embedding", "__cents"],
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = ivf_assign(df, cents, method="broadcast")
    assert "__cents" in out.columns
    got = {r["vec_id"]: (r["__cents"], r["__cid"]) for r in out.collect()}
    assert got == {0: ("keep-me", 0), 1: ("keep-me-too", 1)}


def test_exact_dedup_hashed_primary_bits_validated(spark):
    """primary_bits outside (0, 64) must raise, not overflow the mask."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.dedup import exact_dedup_hashed

    docs = spark.createDataFrame([(0, "a")], ["doc_id", "text"])
    for bad in (0, -1, 64, 65):
        with _pytest.raises(ValueError, match="primary_bits"):
            exact_dedup_hashed(docs, "text", "doc_id", primary_bits=bad)


def test_connected_components_chain_and_singleton(spark):
    """Min-label propagation: a 3-chain collapses to its min id even
    though 1 and 3 share no edge; isolated vertices keep themselves."""
    from usgs_lidar_spark.operators.graph import collapse_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r.asDict() for r in collapse_clusters(docs, pairs).collect()}
    assert [out[i]["cluster_id"] for i in range(1, 7)] == [1, 1, 1, 4, 5, 5]
    assert out[1]["cluster_size"] == 3 and out[1]["is_kept"]
    assert not out[2]["is_kept"]
    assert out[4]["cluster_size"] == 1 and out[4]["is_kept"]


def test_connected_components_deep_chain_converges(spark):
    """A 12-vertex path needs ~diameter rounds — pins the loop + the
    convergence early-exit (max_iter default must cover it)."""
    from usgs_lidar_spark.operators.graph import connected_components

    n = 12
    verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    stats: dict = {}
    out = connected_components(verts, edges, stats=stats).collect()
    assert all(r["cluster_id"] == 0 for r in out) and len(out) == n
    # Diagnostics out-param: a 12-path needs ~diameter rounds under
    # min-label; converged must be reported.
    assert stats["converged"] and stats["algorithm"] == "minlabel"
    assert 6 <= stats["rounds"] <= 13


def test_connected_components_star_beats_minlabel_on_path(spark):
    """High-diameter input: a 15-vertex path. In 5 rounds min-label can
    only propagate ~5 hops (must hit max_iter and warn, per the
    convergence contract); the alternating large/small-star contraction
    converges within the same budget and labels every vertex 0."""
    import pytest
    import warnings as _w

    from usgs_lidar_spark.operators.graph import (
        ConvergenceWarning,
        connected_components,
    )

    n = 15
    verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )

    with pytest.warns(ConvergenceWarning):
        partial = connected_components(verts, edges, max_iter=5).collect()
    assert any(r["cluster_id"] != 0 for r in partial)  # genuinely partial

    with pytest.raises(RuntimeError):
        connected_components(
            verts, edges, max_iter=5, on_unconverged="raise"
        )

    with _w.catch_warnings():
        _w.simplefilter("error")  # star must NOT warn: it converges
        out = connected_components(
            verts, edges, max_iter=5, algorithm="star"
        ).collect()
    assert len(out) == n and all(r["cluster_id"] == 0 for r in out)


def test_connected_components_star_matches_minlabel_on_clusters(spark):
    """Both algorithms agree on a multi-component graph with singletons."""
    from usgs_lidar_spark.operators.graph import connected_components

    verts = spark.createDataFrame([(i,) for i in range(1, 10)], ["id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 7)], ["src", "dst"]
    )
    a = {
        r["id"]: r["cluster_id"]
        for r in connected_components(verts, edges).collect()
    }
    b = {
        r["id"]: r["cluster_id"]
        for r in connected_components(verts, edges, algorithm="star").collect()
    }
    assert a == b
    assert b == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7, 8: 7, 9: 9}


def test_salted_count_distinct_exact(spark):
    """Salted distinct-count must equal the direct computation."""
    from usgs_lidar_spark.operators.skew import salted_count_distinct
    from usgs_lidar_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    direct = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    salted = {
        r["event_type"]: r["n_distinct"]
        for r in salted_count_distinct(e, ["event_type"], "user_id", 8).collect()
    }
    assert salted == direct


def test_salted_sum_exact(spark):
    from usgs_lidar_spark.operators.skew import salted_sum
    from usgs_lidar_spark.catalog import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    direct = {
        r["o_orderstatus"]: r["s"]
        for r in o.groupBy("o_orderstatus").agg(F.sum(cents).alias("s")).collect()
    }
    salted = {
        r["o_orderstatus"]: r["total"]
        for r in salted_sum(
            o, ["o_orderstatus"], cents, "total", "o_orderkey", 8
        ).collect()
    }
    assert salted == direct


def test_recall_at_k_metric_and_pinned_minimums(spark):
    """ANN accuracy regression gate (round-4 item): recall@5 of the
    approximate paths against the exact baseline, on the committed sf0.001
    embeddings. Everything in the pipeline is deterministic (sign-LSH has
    no seed; the IVF quantizer seeds from the first 8 vectors), so the
    golden means are exact; they only legitimately change when probe
    parameters change, in which case re-measure and re-pin."""
    from usgs_lidar_spark.plans.queries import QUERIES

    pdf = QUERIES["sim_recall_at_k"](spark, "/root/testdata/sf0.001").toPandas()
    assert set(pdf["method"]) == {"lsh_multiprobe", "ivf"}
    assert (pdf["n_exact"] == 5).all()
    hits = pdf.groupby("method")["n_hit"].sum()
    # Golden hit totals (out of 25) measured on /root/testdata/sf0.001
    # (100 vectors) — integer-exact, no float-mean noise:
    assert hits["ivf"] == 24, hits
    assert hits["lsh_multiprobe"] == 3, hits
    # Floors that any future parameter change must still clear: the scale
    # path (IVF, n_probe=2 of 8 cells) must stay a high-recall method.
    assert hits["ivf"] >= 20  # recall@5 >= 0.8
    assert hits["lsh_multiprobe"] > 0


def test_recall_at_k_handles_zero_hit_queries(spark):
    """Queries whose approximate set misses everything still appear with
    recall 0.0 (left join from the exact side)."""
    from usgs_lidar_spark.operators.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 20)], ["query_id", "neighbor_id"]
    )
    approx = spark.createDataFrame([(0, 11), (0, 99)], ["query_id", "neighbor_id"])
    got = {r["query_id"]: (r["n_hit"], r["n_exact"], r["recall"])
           for r in recall_at_k(approx, exact).collect()}
    assert got == {0: (1, 2, 0.5), 1: (0, 1, 0.0)}


# --- Training-data pipeline operators (operators/pipeline.py) --------------


def test_split_by_hash_deterministic_and_complete(spark):
    """Every row gets exactly one split; fractions land near the weights;
    assignment is a pure function of the id (repartitioning changes
    nothing — the property randomSplit lacks)."""
    from usgs_lidar_spark.operators.pipeline import split_by_hash

    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    out = split_by_hash(df, "doc_id")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 20000
    assert abs(counts["train"] / 20000 - 0.9) < 0.02
    assert abs(counts["val"] / 20000 - 0.05) < 0.01
    assert abs(counts["test"] / 20000 - 0.05) < 0.01
    again = split_by_hash(df.repartition(13), "doc_id")
    assert (
        out.select("doc_id", "split")
        .exceptAll(again.select("doc_id", "split"))
        .count()
        == 0
    )
    with pytest.raises(ValueError, match="sum to 1"):
        split_by_hash(df, "doc_id", weights={"a": 0.5, "b": 0.4})


def test_split_and_sample_are_map_only(spark):
    """Split/sample must stay shuffle-free: stateless row-local hashing."""
    from usgs_lidar_spark.operators.pipeline import sample_stratified, split_by_hash

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    for op in (
        split_by_hash(df, "doc_id"),
        sample_stratified(df, "doc_id", 0.25),
    ):
        plan = op._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_sample_stratified_share_per_stratum(spark):
    """The kept share approaches the fraction inside EVERY stratum, and a
    different seed yields a different (but equally sized-ish) sample."""
    from usgs_lidar_spark.operators.pipeline import sample_stratified

    df = spark.range(30000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("stratum")
    )
    kept = sample_stratified(df, "doc_id", 0.2)
    shares = {
        r["stratum"]: r["n"] / 10000
        for r in kept.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(abs(s - 0.2) < 0.02 for s in shares.values()), shares
    other = sample_stratified(df, "doc_id", 0.2, seed=99)
    assert kept.select("doc_id").exceptAll(other.select("doc_id")).count() > 0
    with pytest.raises(ValueError, match="fraction"):
        sample_stratified(df, "doc_id", 1.5)


def test_contaminated_docs_flags_overlap(spark):
    """A corpus doc sharing a long substring with a benchmark doc is
    flagged with the right shingle counts; an unrelated doc is not."""
    from usgs_lidar_spark.operators.pipeline import contaminated_docs

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # exact copy
            (2, "completely unrelated words here nothing shared"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in contaminated_docs(
            corpus, bench, "text", "doc_id", k=8, max_df=None, min_frac=0.5
        ).collect()
    }
    assert list(got) == [1]
    assert got[1]["n_hit"] == got[1]["n_shingles"] and got[1]["hit_frac"] == 1.0


def test_pack_sequences_offsets_and_splits(spark):
    """Hand-checked packing: budget 10, docs of 4/5/3/9/0 tokens in id
    order -> starts 0,4,9,12,21; doc 3 (5 tokens, start 9) straddles the
    first boundary; the 0-token doc packs without splitting."""
    from usgs_lidar_spark.operators.pipeline import pack_sequences

    rows = [(1, 4), (2, 5), (3, 3), (4, 9), (5, 0)]
    df = spark.createDataFrame(rows, ["doc_id", "toks"])
    # n_streams=1: one totally-ordered stream (the explicit single-task
    # opt-in; the default is n_streams hash-bucket streams)
    out = {
        r["doc_id"]: r.asDict()
        for r in pack_sequences(
            df, "doc_id", "toks", budget=10, n_streams=1
        ).collect()
    }
    assert [out[i]["token_start"] for i in (1, 2, 3, 4, 5)] == [0, 4, 9, 12, 21]
    assert [out[i]["pack_id"] for i in (1, 2, 3, 4, 5)] == [0, 0, 0, 1, 2]
    assert [out[i]["split_across"] for i in (1, 2, 3, 4, 5)] == [
        False, False, True, True, False,
    ]
    assert out[4]["pack_offset"] == 2
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, "doc_id", "toks", budget=0)
    with pytest.raises(ValueError, match="n_streams"):
        pack_sequences(df, "doc_id", "toks", budget=10, n_streams=0)

    # Default (no stream_col): deterministic Lehmer-bucket streams, the
    # pack_stream column is emitted, and offsets chain PER STREAM.
    from usgs_lidar_spark.operators.pipeline import portable_hash_long

    dflt = pack_sequences(df, "doc_id", "toks", budget=10, n_streams=4)
    got = sorted(dflt.collect(), key=lambda r: r["doc_id"])
    want_stream = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", (portable_hash_long("doc_id") % 4).alias("s")
        ).collect()
    }
    assert all(r["pack_stream"] == want_stream[r["doc_id"]] for r in got)
    per_stream: dict[int, int] = {}
    for r in got:  # doc_id order == window order within each stream
        s = r["pack_stream"]
        assert r["token_start"] == per_stream.get(s, 0)
        per_stream[s] = r["token_start"] + r["n_tokens"]
    assert sum(per_stream.values()) == sum(t for _, t in rows)


# --- Product quantization (operators/similarity.py) ------------------------


def test_pq_encode_seed_identity_and_no_shuffle(spark):
    """Each codebook seed vector encodes to its own code in every
    subspace (its distance to itself is 0), and the encode plan is a pure
    map stage — the corpus never shuffles."""
    from usgs_lidar_spark.operators.similarity import (
        pq_codebooks_from_rows,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    cbs = pq_codebooks_from_rows(seeds, n_sub=4)
    enc = pq_encode(emb, cbs)
    got = {
        r["vec_id"]: r["pq_codes"]
        for r in enc.filter(F.col("vec_id") < 8).collect()
    }
    for vid in range(8):
        assert got[vid] == [vid] * 4, (vid, got[vid])
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan

    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks_from_rows(seeds, n_sub=5)
    with pytest.raises(ValueError, match="seed"):
        pq_codebooks_from_rows([], n_sub=4)


def test_pq_adc_hand_checked(spark):
    """dim=4, n_sub=2, 2 codes per subspace from seeds (0,0,0,0) and
    (2,2,4,4). Corpus vec 10=(0,0,4,4) encodes to [0,1]; query (0,0,4,4)
    has LUT distances 0 to both halves -> ADC(10)=0; vec 11=(2,2,0,0)
    encodes to [1,0] with ADC = (0-2)^2*2 + (4-0)^2*2 = 40."""
    from usgs_lidar_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_rows,
        pq_encode,
    )

    corpus = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0]),
            (1, [2.0, 2.0, 4.0, 4.0]),
            (10, [0.0, 0.0, 4.0, 4.0]),
            (11, [2.0, 2.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    seeds = [[0.0, 0.0, 0.0, 0.0], [2.0, 2.0, 4.0, 4.0]]
    cbs = pq_codebooks_from_rows(seeds, n_sub=2)
    codes = {
        r["vec_id"]: r["pq_codes"] for r in pq_encode(corpus, cbs).collect()
    }
    assert codes == {0: [0, 0], 1: [1, 1], 10: [0, 1], 11: [1, 0]}

    q = spark.createDataFrame(
        [(99, [0.0, 0.0, 4.0, 4.0])], "query_id long, embedding array<double>"
    )
    out = {
        r["neighbor_id"]: r.asDict()
        for r in pq_adc_topk(corpus, q, cbs, k=4).collect()
    }
    assert out[10]["adc_dist"] == 0.0 and out[10]["rank"] == 1
    assert out[0]["adc_dist"] == 32.0   # second half: 4^2 * 2
    assert out[1]["adc_dist"] == 8.0    # first half: 2^2 * 2
    assert out[11]["adc_dist"] == 40.0


def test_pq_recall_floor(spark):
    """The PQ recall metric runs end-to-end: 5 exact neighbors per query,
    and the compressed search recovers at least one true neighbor overall
    (the seeded 8-code toy codebook bounds how high recall can be on
    near-orthogonal synthetic embeddings; the metric exists to measure
    exactly that)."""
    from usgs_lidar_spark.plans.queries import QUERIES

    rows = QUERIES["sim_pq_recall"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    assert all(r["n_exact"] == 5 for r in rows)
    assert sum(r["n_hit"] for r in rows) > 0


def test_ivf_pq_degrades_to_exhaustive_pq(spark):
    """Probing every cell makes IVF-PQ candidate-complete: its output must
    be IDENTICAL to exhaustive pq_adc_topk (same ADC, same ranks)."""
    from usgs_lidar_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_rows,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    cents = [(i, v) for i, v in enumerate(seeds)]
    cbs = pq_codebooks_from_rows(seeds, n_sub=4)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = pq_adc_topk(emb, q, cbs, k=5, centroids=cents, n_probe=8)
    exhaustive = pq_adc_topk(emb, q, cbs, k=5)
    assert full.exceptAll(exhaustive).count() == 0
    assert exhaustive.exceptAll(full).count() == 0
    # n_probe=2 returns a (possibly different) full top-5 per query too.
    narrowed = pq_adc_topk(emb, q, cbs, k=5, centroids=cents, n_probe=2)
    per_q = {r["query_id"]: r["n"] for r in
             narrowed.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n == 5 for n in per_q.values())


# --- D8 flow accumulation (operators/terrain.py) ---------------------------


def test_flow_accumulation_ramp_and_valley(spark):
    """Hand-checked drainage: a 5-cell descending ramp accumulates 1..5;
    a V-valley drains every cell into the outlet (acc = 9), with the
    mid-channel cell collecting its three upslope cells (acc = 4)."""
    from usgs_lidar_spark.operators.terrain import flow_accumulation

    ramp = spark.createDataFrame(
        [(i, 0, float(10 - i)) for i in range(5)], ["ix", "iy", "cz"]
    )
    stats: dict = {}
    acc = {
        (r["ix"], r["iy"]): r["acc"]
        for r in flow_accumulation(ramp, stats=stats).collect()
    }
    assert [acc[(i, 0)] for i in range(5)] == [1, 2, 3, 4, 5]
    assert stats["converged"] and stats["rounds"] == 5

    valley = spark.createDataFrame(
        [
            (x, y, abs(x) * 2.0 + (2 - y) * 1.0)
            for y in range(3)
            for x in (-1, 0, 1)
        ],
        ["ix", "iy", "cz"],
    )
    vacc = {
        (r["ix"], r["iy"]): r["acc"] for r in flow_accumulation(valley).collect()
    }
    assert vacc[(0, 2)] == 9  # the outlet drains everything
    assert vacc[(0, 1)] == 4  # channel cell: itself + three upslope cells
    assert vacc[(-1, 0)] == 1  # ridge cells have no inflow


def test_flow_accumulation_unconverged_guard(spark):
    """A path longer than max_iter must warn (default) or raise — partial
    accumulation is never returned silently."""
    from usgs_lidar_spark.operators.graph import ConvergenceWarning
    from usgs_lidar_spark.operators.terrain import flow_accumulation

    ramp = spark.createDataFrame(
        [(i, 0, float(20 - i)) for i in range(8)], ["ix", "iy", "cz"]
    )
    with pytest.warns(ConvergenceWarning):
        flow_accumulation(ramp, max_iter=3).collect()
    with pytest.raises(RuntimeError, match="max_iter"):
        flow_accumulation(ramp, max_iter=3, on_unconverged="raise")


def test_asof_salted_equals_unsalted(spark):
    """The time-bucketed (hot-key) as-of must produce byte-identical
    results to the plain as-of, including carries across empty buckets
    and the inner/left distinction."""
    import random

    from usgs_lidar_spark.operators.asof import asof_join, asof_join_salted

    rng = random.Random(11)
    base = 1_700_000_000
    lrows = [
        (uid, base + rng.randrange(0, 40_000), f"c{n}")
        for n, uid in enumerate(rng.choices([1, 1, 1, 2], k=60))
    ]
    rrows = [
        (uid, base + rng.randrange(0, 40_000), float(n))
        for n, uid in enumerate(rng.choices([1, 1, 1, 2], k=25))
    ]
    left = spark.createDataFrame(lrows, ["uid", "sec", "tag"]).select(
        "uid", F.timestamp_seconds("sec").alias("t"), "tag"
    )
    right = spark.createDataFrame(rrows, ["uid", "sec", "v"]).select(
        "uid", F.timestamp_seconds("sec").alias("t"), "v"
    )
    for how in ("inner", "left"):
        plain = asof_join(left, right, ["uid"], "t", ["v"], tie_break="v", how=how)
        # 1h buckets => ~11 buckets over the 40ks span, some with no right rows.
        salted = asof_join_salted(
            left, right, ["uid"], "t", ["v"],
            bucket_width_seconds=3600, tie_break="v", how=how,
        )
        assert salted.exceptAll(plain).count() == 0, how
        assert plain.exceptAll(salted).count() == 0, how


def test_split_by_group_no_leakage(spark):
    """Every group lands wholly in one split (the leakage guarantee), and
    the assignment is stable under row reordering."""
    from usgs_lidar_spark.operators.pipeline import split_by_group

    df = spark.createDataFrame(
        [(i, f"src{i % 57}") for i in range(2000)], ["doc_id", "source"]
    )
    out = split_by_group(df, "source")
    per_group = (
        out.groupBy("source")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r["n_splits"] == 1 for r in per_group)
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits


def test_multiprobe2_candidates_superset(spark):
    """Hamming-2 probing can only add candidates over Hamming-1: every
    neighbor the 1-flip probe ranks with sim above the 2-flip probe's
    kth sim must still appear — concretely, per query the 2-flip top-k's
    worst sim is >= the 1-flip top-k's worst sim."""
    from usgs_lidar_spark.operators.similarity import cosine_topk_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    m1 = cosine_topk_lsh(emb, q, k=5, hamming=1)
    m2 = cosine_topk_lsh(emb, q, k=5, hamming=2)
    worst1 = {r["query_id"]: r["w"] for r in
              m1.groupBy("query_id").agg(F.min("sim").alias("w")).collect()}
    worst2 = {r["query_id"]: r["w"] for r in
              m2.groupBy("query_id").agg(F.min("sim").alias("w")).collect()}
    assert set(worst2) >= set(worst1)
    for qid, w1 in worst1.items():
        assert worst2[qid] >= w1, (qid, w1, worst2[qid])


def test_split_and_sample_handle_negative_and_null_ids(spark):
    """Round-4 review fixes: negative ids bucket correctly (pmod — they
    previously all fell into the first split and every sample), and NULL
    ids get a NULL split / are dropped from samples instead of silently
    concentrating anywhere."""
    from usgs_lidar_spark.operators.pipeline import (
        sample_stratified,
        split_by_hash,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(-4000, 4000)], ["doc_id"]
    )
    out = split_by_hash(df, "doc_id")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["train"] / 8000 - 0.9) < 0.03
    assert "val" in counts and "test" in counts
    neg = out.filter("doc_id < 0")
    assert neg.filter("split != 'train'").count() > 0  # not all-train

    kept = sample_stratified(df, "doc_id", 0.1).count()
    assert abs(kept / 8000 - 0.1) < 0.03

    with_null = spark.createDataFrame([(1,), (None,)], "doc_id long")
    splits = {r["doc_id"]: r["split"] for r in split_by_hash(with_null, "doc_id").collect()}
    assert splits[None] is None and splits[1] is not None
    assert sample_stratified(with_null, "doc_id", 1.0).count() == 1


def test_probe_handles_jpeg_fill_bytes_and_null_content(spark):
    """Round-4 review fixes: legal 0xFF fill bytes before a JPEG marker
    don't derail the parser, and NULL content rows probe as (-1,-1,-1) /
    extract as empty instead of crashing the task."""
    import struct

    from usgs_lidar_spark.multimodal import probe_image_dims
    from usgs_lidar_spark.multimodal.binary_ops import binary_feature_extract

    jpeg_fill = (
        b"\xff\xd8"
        + b"\xff\xff\xff"  # fill bytes
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 99, 77) + b"\x03" + bytes(9)
    )
    media = _media_from_bytes(spark, [jpeg_fill]).unionByName(
        spark.createDataFrame(
            [(99, "image", None, 0)],
            "media_id long, media_type string, content binary, n_bytes long",
        )
    )
    got = {r["media_id"]: r.asDict() for r in probe_image_dims(media).collect()}
    assert (got[0]["width"], got[0]["height"], got[0]["channels"]) == (77, 99, 3)
    assert (got[99]["width"], got[99]["height"], got[99]["channels"]) == (-1, -1, -1)
    feats = {r["media_id"]: r.asDict() for r in binary_feature_extract(media).collect()}
    assert feats[99]["n_bytes"] == 0 and feats[99]["head_byte"] == -1


# --- Time-series resample + gap-fill (operators/resample.py) ---------------


def test_resample_gap_fill_hand_case(spark):
    """Key A has events in hours 0 and 3: the dense grid emits hours 0-3,
    forward-fills the value across the gap, flags hours 1-2 as gaps, and
    key B (single bucket) stays a single non-gap row."""
    from usgs_lidar_spark.operators.resample import gap_fill, resample_events

    rows = [
        ("A", 100, 1.0), ("A", 200, 2.0),          # hour 0
        ("A", 3 * 3600 + 5, 10.0),                  # hour 3
        ("B", 7 * 3600 + 1, 5.0),                   # hour 7
    ]
    ev = spark.createDataFrame(rows, ["k", "sec", "v"]).select(
        "k", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    res = resample_events(
        ev, "ts", ["k"],
        {"n": F.count(F.lit(1)), "s": F.sum("v")}, step_seconds=3600,
    )
    out = {
        (r["k"], r["__bucket"]): r.asDict()
        for r in gap_fill(res, ["k"], ["s"], 3600).collect()
    }
    assert len(out) == 5  # A: hours 0..3, B: hour 7
    assert out[("A", 0)]["s"] == 3.0 and not out[("A", 0)]["is_gap"]
    assert out[("A", 1)]["is_gap"] and out[("A", 1)]["s"] == 3.0   # ffilled
    assert out[("A", 2)]["is_gap"] and out[("A", 2)]["s"] == 3.0
    assert out[("A", 3)]["s"] == 10.0 and not out[("A", 3)]["is_gap"]
    assert out[("A", 1)]["n"] is None  # counts stay null on gap rows
    assert out[("B", 7)]["s"] == 5.0 and not out[("B", 7)]["is_gap"]


def test_gap_fill_max_buckets_guard(spark):
    """A key spanning more buckets than the guard raises with the key
    named, instead of detonating the explode."""
    from usgs_lidar_spark.operators.resample import gap_fill, resample_events

    ev = spark.createDataFrame(
        [("A", 0, 1.0), ("A", 10_000_000, 1.0)], ["k", "sec", "v"]
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "v")
    res = resample_events(ev, "ts", ["k"], {"s": F.sum("v")}, step_seconds=1)
    with pytest.raises(ValueError, match="max_buckets"):
        gap_fill(res, ["k"], ["s"], 1, max_buckets=1000)


def test_gap_fill_linear_interpolation(spark):
    """Linear fill: a 3-bucket gap between values 3.0 (hour 0) and 11.0
    (hour 4) interpolates to 5, 7, 9; occupied rows keep exact values;
    ffill on the same input carries 3.0 across."""
    from usgs_lidar_spark.operators.resample import gap_fill, resample_events

    rows = [("A", 30, 3.0), ("A", 4 * 3600 + 30, 11.0)]
    ev = spark.createDataFrame(rows, ["k", "sec", "v"]).select(
        "k", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    res = resample_events(ev, "ts", ["k"], {"s": F.sum("v")}, 3600)
    lin = {
        r["__bucket"]: r["s"]
        for r in gap_fill(res, ["k"], ["s"], 3600, method="linear").collect()
    }
    assert lin == {0: 3.0, 1: 5.0, 2: 7.0, 3: 9.0, 4: 11.0}
    ff = {
        r["__bucket"]: r["s"]
        for r in gap_fill(res, ["k"], ["s"], 3600, method="ffill").collect()
    }
    assert ff == {0: 3.0, 1: 3.0, 2: 3.0, 3: 3.0, 4: 11.0}
    with pytest.raises(ValueError, match="method"):
        gap_fill(res, ["k"], ["s"], 3600, method="spline")


def test_frame_sampling_and_resize_plumbing(spark):
    """Multimodal resize + frame-sample: (a) byte-chunk frame sampling
    emits every Nth complete frame with exact bytes and totals (the
    one-to-many mapInPandas shape); (b) the fake resize stand-in tiles
    payloads to exactly width*height bytes; (c) the PIL-gated real resize
    raises cleanly when PIL is absent."""
    from usgs_lidar_spark.multimodal import (
        fake_resize_image,
        have_pil,
        resize_image,
        sample_frames,
        to_media_table,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefgh" * 5), (2, "xy"), (3, "")], ["doc_id", "text"]
    )
    media = to_media_table(docs, "doc_id", "text")

    # 40 bytes / frame_size 8 = 5 frames; every 2nd -> indices 0, 2, 4.
    frames = sample_frames(media, frame_size=8, every_n=2).collect()
    got = {(r["media_id"], r["frame_index"]): r for r in frames}
    assert set(got) == {(1, 0), (1, 2), (1, 4)}  # docs 2, 3: no full frame
    assert all(r["n_frames_total"] == 5 for r in frames)
    assert bytes(got[(1, 0)]["frame"]) == b"abcdefgh"
    with pytest.raises(ValueError, match="positive"):
        sample_frames(media, frame_size=0)

    resized = {
        r["media_id"]: r for r in fake_resize_image(media, 4, 3).collect()
    }
    assert all(r["n_bytes"] == 12 and r["width"] == 4 for r in resized.values())
    assert bytes(resized[2]["content"]) == b"xyxyxyxyxyxy"  # tiled
    assert bytes(resized[3]["content"]) == bytes(12)  # empty -> zero bytes

    if not have_pil():
        with pytest.raises(NotImplementedError, match="PIL"):
            resize_image(media, 4, 3)


def test_levenshtein_blocking_contract(spark):
    """Blocked edit-distance dedup: qualifying pairs within one length
    bucket of each other are found exactly once with the correct
    distance; pairs straddling more than one bucket are missed (the
    documented blocking trade); block_cols separate languages."""
    from usgs_lidar_spark.operators.dedup import levenshtein_near_dup_pairs

    docs = spark.createDataFrame(
        [
            (1, "en", "a" * 32),
            (2, "en", "a" * 30 + "bb"),       # lev 2, same bucket
            (3, "en", "a" * 47),              # lev 15 vs doc1, bucket +0..1
            (4, "en", "a" * 80),              # within threshold by lev? no: 48 edits
            (5, "de", "a" * 32),              # identical to 1 but other lang
            (6, "en", "a" * 66),              # lev 34 vs doc1 BUT 2 buckets away
        ],
        ["doc_id", "lang", "text"],
    )
    pairs = levenshtein_near_dup_pairs(
        docs, "text", "doc_id", max_distance=40, block_cols=["lang"],
        bucket_width=16,
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["lev"] for r in pairs}
    assert got[(1, 2)] == 2
    assert got[(1, 3)] == 15
    assert (1, 5) not in got            # language block separates
    assert (1, 6) not in got            # 2 buckets apart: blocked out
    assert (1, 4) not in got            # lev 48 > threshold
    assert len(got) == len(pairs)       # every pair produced exactly once


def test_global_shuffle_deterministic_partition_invariant(spark):
    """global_shuffle: (a) shard/position are a pure function of (id,
    seed) — identical across repartitionings; (b) positions are dense
    1..n per shard; (c) a different seed produces a different order."""
    from usgs_lidar_spark.operators.pipeline import global_shuffle

    df = spark.range(200).withColumnRenamed("id", "doc_id")

    def snap(frame, seed=0):
        return {
            r["doc_id"]: (r["shard"], r["shard_pos"])
            for r in global_shuffle(frame, "doc_id", 4, seed).collect()
        }

    a = snap(df)
    b = snap(df.repartition(13))
    assert a == b
    from collections import Counter

    per_shard = Counter(s for s, _ in a.values())
    by_shard: dict[int, list[int]] = {}
    for s, p in a.values():
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, per_shard[s] + 1))
    assert snap(df, seed=1) != a


def test_exact_dedup_incremental_drops_seen_and_collapses_batch(spark):
    """Incremental exact dedup: batch docs whose text the corpus already
    contains are dropped entirely; duplicates WITHIN the batch collapse
    to (min id, count); fresh unique docs pass through."""
    from usgs_lidar_spark.operators.pipeline import exact_dedup_incremental

    seen = spark.createDataFrame(
        [(1, "already ingested"), (2, "also known")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "already ingested"),   # dropped: in corpus
            (11, "brand new"),
            (12, "brand new"),          # in-batch dup of 11
            (13, "unique fresh doc"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["keep_id"]: r["n_copies"]
        for r in exact_dedup_incremental(batch, seen).collect()
    }
    assert got == {11: 2, 13: 1}


def test_contamination_fractional_cap_is_scale_stable(spark):
    """The absolute df cap tightens as the corpus grows (measured at 10x:
    flagged docs dropped 1194 -> 501); max_df_frac keeps the SAME flagged
    set when the corpus is replicated, because the resolved cap scales
    with corpus size."""
    from usgs_lidar_spark.operators.pipeline import contaminated_docs

    bench = spark.createDataFrame(
        [(900, "thequickbrownfoxjumpsover")], ["doc_id", "text"]
    )
    base_rows = [(0, "thequickbrownfoxjumpsover")] + [
        (i, f"unrelated-document-{i:04d}-padding") for i in range(1, 30)
    ]
    base = spark.createDataFrame(base_rows, ["doc_id", "text"])
    big = spark.createDataFrame(
        [(r[0] + 1000 * k, r[1]) for k in range(3) for r in base_rows],
        ["doc_id", "text"],
    )

    def flagged(corpus, **kw):
        return sorted(
            r["doc_id"] % 1000
            for r in contaminated_docs(corpus, bench, **kw).collect()
        )

    # Fractional cap: identical per-replica flags at 1x and 3x.
    assert flagged(base, max_df_frac=0.1) == [0]
    assert flagged(big, max_df_frac=0.1) == [0, 0, 0]
    # Absolute cap at 2: the 3x corpus has df=3 for the contaminated
    # shingles -> evidence capped away, flags silently vanish.
    assert flagged(base, max_df=2) == [0]
    assert flagged(big, max_df=2) == []


def test_ivf_append_matches_full_assign(spark):
    """Incremental IVF maintenance: appending a batch with the
    existing quantizer is indistinguishable from re-assigning the whole
    corpus."""
    from usgs_lidar_spark.operators.similarity import ivf_append, ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 8").collect()
    ]
    base = ivf_assign(emb.filter("vec_id < 450"), cents, keep_sim=True)
    appended = ivf_append(base, emb.filter("vec_id >= 450"), cents)
    full = ivf_assign(emb, cents, keep_sim=True)
    a = {r["vec_id"]: (r["__cid"], r["__csim"]) for r in appended.collect()}
    f = {r["vec_id"]: (r["__cid"], r["__csim"]) for r in full.collect()}
    assert a == f and len(a) == 500


def test_gap_fill_ffill_preserves_occupied_null(spark):
    """An OCCUPIED bucket whose aggregate is legitimately NULL (here:
    sum over an all-null value column) must keep its NULL under ffill —
    only synthesized gap rows are filled (same contract as linear)."""
    from usgs_lidar_spark.operators.resample import gap_fill, resample_events

    rows = [("A", 30, 3.0), ("A", 3600 + 30, None), ("A", 3 * 3600 + 30, 9.0)]
    ev = spark.createDataFrame(rows, "k string, sec long, v double").select(
        "k", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    res = resample_events(ev, "ts", ["k"], {"s": F.sum("v")}, 3600)
    out = {
        r["__bucket"]: (r["s"], r["is_gap"])
        for r in gap_fill(res, ["k"], ["s"], 3600, method="ffill").collect()
    }
    assert out[0] == (3.0, False)
    assert out[1] == (None, False)  # occupied NULL survives the fill
    assert out[2] == (3.0, True)    # gap ffills past the occupied NULL
    assert out[3] == (9.0, False)


def test_portable_hash_bucket_extreme_ids(spark):
    """Ids at the long extremes produce in-range buckets identical to
    wide-arithmetic math — no intermediate overflow (ANSI-safe)."""
    from usgs_lidar_spark.operators.pipeline import (
        _LEHMER_A,
        _LEHMER_M,
        N_BUCKETS,
        portable_hash_bucket,
    )

    ids = [2**63 - 1, -(2**63), -1, 0, 1, 12345]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r["id"]: r["b"]
        for r in df.select(
            "id", portable_hash_bucket("id", seed=7).alias("b")
        ).collect()
    }

    def ref(i, seed=7):
        x = (i % _LEHMER_M + 1 + seed) % _LEHMER_M  # python ints: no overflow
        for _ in range(2):
            x = (x * _LEHMER_A) % _LEHMER_M
        return x % N_BUCKETS

    for i in ids:
        assert got[i] == ref(i), i
        assert 0 <= got[i] < N_BUCKETS


def test_new_operators_tolerate_empty_inputs(spark):
    """Empty-input robustness sweep for the round-4 operators: every path
    returns an empty (or sensible) result instead of crashing."""
    from usgs_lidar_spark.operators.pipeline import (
        contaminated_docs,
        pack_sequences,
        sample_stratified,
        split_by_hash,
    )
    from usgs_lidar_spark.operators.resample import gap_fill, resample_events
    from usgs_lidar_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_rows,
    )
    from usgs_lidar_spark.operators.terrain import flow_accumulation

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert split_by_hash(docs, "doc_id").count() == 0
    assert sample_stratified(docs, "doc_id", 0.5).count() == 0
    assert pack_sequences(
        docs, "doc_id", F.length("text").cast("long"), 16, stream_col="lang"
    ).count() == 0
    some_docs = spark.createDataFrame([(1, "abcdefghijklmnop")], ["doc_id", "text"])
    # empty benchmark: nothing is contaminated
    assert contaminated_docs(some_docs, docs.select("doc_id", "text")).count() == 0
    # empty corpus against a benchmark: nothing to flag
    assert contaminated_docs(
        docs.select("doc_id", "text"), some_docs
    ).count() == 0

    ev = spark.createDataFrame([], "k string, ts timestamp, v double")
    res = resample_events(ev, "ts", ["k"], {"s": F.sum("v")}, 3600)
    assert gap_fill(res, ["k"], ["s"], 3600).count() == 0

    cells = spark.createDataFrame([], "ix long, iy long, cz double")
    assert flow_accumulation(cells, max_iter=2).count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    seeds = [[float(i == j) for i in range(8)] for j in range(2)]
    cbs = pq_codebooks_from_rows(seeds, n_sub=2)
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
        "query_id long, embedding array<double>",
    )
    assert pq_adc_topk(emb, q, cbs, k=3).count() == 0  # empty corpus


def test_ivf_pq_narrowed_probe_recall_floor(spark):
    """Probing 2 of 8 cells must still recover a usable share of the
    exhaustive compressed search's top-5 (the coarse quantizer's job is
    to make the candidate restriction cheap, not blind): pin mean
    overlap >= 40% at sf0.001 so a probe-selection regression (e.g.
    probing the FARTHEST cells) fails loudly."""
    from usgs_lidar_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_rows,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    cents = [(i, v) for i, v in enumerate(seeds)]
    cbs = pq_codebooks_from_rows(seeds, n_sub=4)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exhaustive = pq_adc_topk(emb, q, cbs, k=5).select("query_id", "neighbor_id")
    narrowed = pq_adc_topk(emb, q, cbs, k=5, centroids=cents, n_probe=2).select(
        "query_id", "neighbor_id"
    )
    n_hit = narrowed.join(exhaustive, ["query_id", "neighbor_id"]).count()
    assert n_hit >= 0.4 * 25, f"IVF-PQ probe recall collapsed: {n_hit}/25"


def test_voxel_pyramid_hierarchy_exact(spark):
    """Pyramid invariants on a hand grid: per-level point counts are
    conserved, children sum to parents, and a coarser level's barycenter
    equals the exact weighted mean of its children (integer-sum state
    makes it bit-exact, not approximately equal)."""
    from usgs_lidar_spark.operators.voxel import voxel_pyramid

    pts = [(float(i), ) for i in range(16)]  # 1-D, res=1 -> keys 0..15
    df = spark.createDataFrame(pts, ["x"])
    pyr = voxel_pyramid(df, ["x"], [1.0], levels=3, exact_decimals=[0])
    rows = {(r["level"], r["ix"]): r.asDict() for r in pyr.collect()}
    for lvl, n_cells in ((0, 16), (1, 8), (2, 4)):
        cells = [r for (lv, _), r in rows.items() if lv == lvl]
        assert len(cells) == n_cells
        assert sum(r["n_points"] for r in cells) == 16
    # level-2 cell 0 covers x in 0..3: barycenter exactly 1.5
    assert rows[(2, 0)]["cx"] == 1.5 and rows[(2, 0)]["n_points"] == 4
    with pytest.raises(ValueError, match="levels"):
        voxel_pyramid(df, ["x"], [1.0], levels=0, exact_decimals=[0])


def test_sample_weighted_and_token_quota(spark):
    """Weighted sampling: weight 1 keeps everything, weight 0 keeps
    nothing, NULL drops; token quota: docs admitted in id order until the
    cap, a doc that would cross it is dropped whole."""
    from usgs_lidar_spark.operators.pipeline import (
        cap_tokens_per_group,
        sample_weighted,
    )

    df = spark.createDataFrame(
        [(i, 1.0 if i < 100 else 0.0) for i in range(200)]
        + [(999, None)],
        "doc_id long, w double",
    )
    kept = sample_weighted(df, "doc_id", "w")
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == set(range(100))  # weight-1 rows only; 0s and NULL dropped

    rows = [(1, "s", 8), (2, "s", 8), (3, "s", 8), (4, "t", 30), (5, "s", 1)]
    d2 = spark.createDataFrame(rows, ["doc_id", "src", "t"])
    out = sorted(
        r["doc_id"]
        for r in cap_tokens_per_group(d2, "doc_id", "t", "src", 20).collect()
    )
    # src s: cumsum 8,16,24 -> doc 3 crosses 20, dropped; doc 5 would be
    # cum 25 (order by id AFTER 3) -> also over. src t: 30 > 20 -> dropped.
    assert out == [1, 2]
    with pytest.raises(ValueError, match="max_tokens"):
        cap_tokens_per_group(d2, "doc_id", "t", "src", 0)


def test_minhash_incremental_equals_batch_involving_subset_of_full(spark):
    """The incremental form must return exactly the full run's pairs that
    involve a batch doc — nothing extra, nothing lost — with pair_type
    telling corpus-batch from batch-batch."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from pyspark.sql import functions as F

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(d, "text", "doc_id", k=8, threshold=0.6).collect()
    }
    expected = {p for p in full if p[0] % 10 == 0 or p[1] % 10 == 0}

    inc_rows = minhash_lsh_pairs_incremental(
        d.withColumn("is_batch", F.col("doc_id") % 10 == 0),
        "text", "doc_id", "is_batch", k=8, threshold=0.6,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in inc_rows} == expected
    for r in inc_rows:
        both = r["id_a"] % 10 == 0 and r["id_b"] % 10 == 0
        assert r["pair_type"] == ("batch_batch" if both else "corpus_batch")


def test_cdc_apply_changelog_delete_wins_and_ties_break(spark):
    """Trailing delete removes the key; a later upsert resurrects it;
    equal-ts ties resolve by the tie column (higher wins)."""
    from usgs_lidar_spark.operators.cdc import apply_changelog

    log = spark.createDataFrame(
        [
            # key 1: upsert then delete -> gone
            (1, 10, 100, "U", 1.0),
            (1, 20, 101, "D", None),
            # key 2: delete then upsert -> present with the later value
            (2, 10, 102, "D", None),
            (2, 30, 103, "U", 2.5),
            # key 3: two ops at the SAME ts -> higher event_id wins
            (3, 10, 104, "U", 3.0),
            (3, 10, 105, "U", 3.5),
        ],
        "k long, ts long, eid long, op string, v double",
    )
    got = {
        r["k"]: (r["ts"], r["v"])
        for r in apply_changelog(log, "k", "ts", "op", ["v"], tie_col="eid").collect()
    }
    assert got == {2: (30, 2.5), 3: (10, 3.5)}


def test_cdc_attribute_history_intervals_chain(spark):
    from usgs_lidar_spark.operators.cdc import attribute_history

    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "x")], "k long, ts long, v string"
    )
    rows = sorted(
        (r["k"], r["valid_from"], r["valid_to"], r["is_current"], r["v"])
        for r in attribute_history(df, "k", "ts", ["v"]).collect()
    )
    assert rows == [
        (1, 10, 20, False, "a"),
        (1, 20, None, True, "b"),
        (2, 5, None, True, "x"),
    ]


def test_cdc_snapshot_diff_null_safe(spark):
    """NULL payloads are compared null-safely: NULL -> 'x' is a change,
    NULL -> NULL is not; column-shifted nulls differ from literals."""
    from usgs_lidar_spark.operators.cdc import snapshot_diff

    left = spark.createDataFrame(
        [(1, None, "s"), (2, "p", None), (3, None, None), (4, "a", "b")],
        "k long, c1 string, c2 string",
    )
    right = spark.createDataFrame(
        [(1, "x", "s"), (2, None, "p"), (3, None, None), (5, "n", "n")],
        "k long, c1 string, c2 string",
    )
    got = {r["k"]: r["status"] for r in
           snapshot_diff(left, right, ["k"], ["c1", "c2"]).collect()}
    assert got == {1: "changed", 2: "changed", 4: "removed", 5: "added"}


def test_rollup_merge_equals_scratch_and_rejects_unknown_kind(spark):
    import pytest

    from usgs_lidar_spark.operators.rollup import merge_rollup, rollup_state

    rows = spark.createDataFrame(
        [("a", 1.25, 10), ("a", 2.50, 5), ("b", 0.75, 7), ("a", -1.00, 3)],
        "k string, price double, qty long",
    )
    keys, measures = ["k"], [("price", "sum"), ("price", "count"),
                             ("qty", "min"), ("qty", "max")]
    # split history/batch unevenly, merge, compare to one-shot state
    hist = rows.filter("qty >= 5")
    batch = rows.filter("qty < 5")
    merged = merge_rollup(
        rollup_state(hist, keys, measures),
        rollup_state(batch, keys, measures),
        keys, measures,
    )
    scratch = rollup_state(rows, keys, measures)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(merged) == as_set(scratch)
    # exactness of the scaled sum: 1.25+2.50-1.00 = 2.75 -> 275 cents
    a = {r["k"]: r for r in merged.collect()}["a"]
    assert a["price_sum"] == 275 and a["price_count"] == 3
    assert a["qty_min"] == 3 and a["qty_max"] == 10

    with pytest.raises(ValueError):
        rollup_state(rows, keys, [("price", "median")])


def test_dq_checks_count_real_violations(spark):
    from usgs_lidar_spark.operators import dq

    child = spark.createDataFrame(
        [(1, 10, 5.0), (1, 10, -2.0), (2, 99, 50.0), (3, None, None)],
        "k long, fk long, v double",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    report = {
        r["constraint"]: (r["violations"], r["checked"])
        for r in dq.dq_report(
            [
                dq.check_unique(child, ["k"]),          # k=1 twice -> 1 surplus
                dq.check_not_null(child, ["fk", "v"]),  # 1 null each
                dq.check_foreign_key(child, "fk", parent, "pk"),  # fk=99 orphan
                dq.check_in_range(child, "v", 0.0, 10.0),  # -2, 50, NULL out
            ]
        ).collect()
    }
    assert report["unique(k)"] == (1, 4)
    assert report["not_null(fk)"] == (1, 4)
    assert report["not_null(v)"] == (1, 4)
    # NULL fk is not an orphan; only fk=99 is, over 3 non-null rows
    assert report["foreign_key(fk)"] == (1, 3)
    assert report["range(v in [0.0,10.0])"] == (3, 4)


def test_resample_to_mix_exact_quotas_and_binding_group(spark):
    import pytest

    from usgs_lidar_spark.operators.pipeline import resample_to_mix

    # en: 100 rows, de: 10, fr: 40. Weights 6:2:1 (W=9). The binding
    # group is de: M = min(100*9//6, 10*9//2, 40*9//1) = min(150,45,360)
    # = 45 -> quotas en=30, de=10, fr=5.
    rows = (
        [(i, "en") for i in range(100)]
        + [(1000 + i, "de") for i in range(10)]
        + [(2000 + i, "fr") for i in range(40)]
        + [(3000 + i, "zh") for i in range(7)]  # no weight -> dropped
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = resample_to_mix(df, "lang", {"en": 6, "de": 2, "fr": 1}, "doc_id")
    got = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    assert got == {"en": 30, "de": 10, "fr": 5}
    # deterministic: same call keeps the same ids
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in resample_to_mix(
            df, "lang", {"en": 6, "de": 2, "fr": 1}, "doc_id"
        ).collect()
    )
    assert ids1 == ids2

    with pytest.raises(ValueError):
        resample_to_mix(df, "lang", {}, "doc_id")
    with pytest.raises(ValueError):
        resample_to_mix(df, "lang", {"en": 0}, "doc_id")


def test_nearest_join_tolerance_and_tie_semantics(spark):
    from usgs_lidar_spark.operators.asof import nearest_join

    left = spark.createDataFrame(
        [(1, 100, "L1"), (1, 200, "L2"), (2, 50, "L3")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, 90, 901),    # 10 before L1
            (1, 110, 902),   # 10 after L1 -> exact tie, past wins
            (1, 170, 903),   # 30 before L2
            (1, 215, 904),   # 15 after L2 -> closer, future wins
            (2, 500, 905),   # 450 from L3 -> outside tolerance
        ],
        "k long, ts long, rid long",
    )
    inner = {
        r["tag"]: (r["nearest_rid"], r["nearest_dt"])
        for r in nearest_join(
            left, right, ["k"], "ts", ["rid"], tolerance=100, tie_break="rid"
        ).collect()
    }
    assert inner == {"L1": (901, -10), "L2": (904, 15)}

    outer = nearest_join(
        left, right, ["k"], "ts", ["rid"], tolerance=100,
        tie_break="rid", how="left",
    )
    rows = {r["tag"]: r["nearest_rid"] for r in outer.collect()}
    assert rows == {"L1": 901, "L2": 904, "L3": None}

    # equal-timestamp right rows: smallest tie wins on both sides
    right2 = spark.createDataFrame(
        [(1, 90, 7), (1, 90, 3), (1, 110, 9), (1, 110, 8)],
        "k long, ts long, rid long",
    )
    got = nearest_join(
        left.filter("tag = 'L1'"), right2, ["k"], "ts", ["rid"],
        tolerance=100, tie_break="rid",
    ).collect()[0]
    assert (got["nearest_rid"], got["nearest_dt"]) == (3, -10)


def test_audio_rms_windows_hand_case(spark):
    import math

    import pytest

    from usgs_lidar_spark.multimodal import audio_rms_windows

    media = spark.createDataFrame(
        [(1, bytes([128, 130, 126, 128, 138])), (2, b"")],
        "media_id long, content binary",
    )
    rows = {
        (r["media_id"], r["window_index"]): (r["n_samples"], r["rms"])
        for r in audio_rms_windows(media, window=4).collect()
    }
    # samples centered at 128: [0, 2, -2, 0, 10]
    # window 0: sumsq = 0+4+4+0 = 8, n=4 -> sqrt(2)
    # window 1 (tail): sumsq = 100, n=1 -> 10.0
    assert rows == {
        (1, 0): (4, math.sqrt(2.0)),
        (1, 1): (1, 10.0),
    }  # empty payload yields no rows

    with pytest.raises(ValueError):
        audio_rms_windows(media, window=0)


def test_user_value_trend_hand_case(spark):
    """Known OLS fits: exact slope on a clean line, NULL-slope degenerate
    groups (single point / zero time variance), NULL values excluded."""
    import datetime as dt

    from usgs_lidar_spark.operators.grouped import user_value_trend

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    hour = dt.timedelta(hours=1)
    rows = [
        # user 1: value = 1.0 + 0.5 * hours -> slope 0.5/h, intercept 1.0
        (1, t0, 1.0), (1, t0 + hour, 1.5), (1, t0 + 2 * hour, 2.0),
        # user 2: single point -> NULL slope, intercept = value
        (2, t0, 7.25),
        # user 3: two points, same ts -> zero variance -> NULL slope,
        # intercept = mean
        (3, t0, 1.0), (3, t0, 3.0),
        # user 4: NULL values drop; remaining single point
        (4, t0, None), (4, t0 + hour, 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r["user_id"]: r for r in user_value_trend(df).collect()}
    assert got[1]["n"] == 3
    assert abs(got[1]["slope_per_hour"] - 0.5) < 1e-12
    assert abs(got[1]["intercept"] - 1.0) < 1e-12
    assert got[2]["slope_per_hour"] is None and got[2]["intercept"] == 7.25
    assert got[3]["slope_per_hour"] is None and got[3]["intercept"] == 2.0
    assert got[4]["n"] == 1 and got[4]["intercept"] == 4.0


def test_spatial_join_diamonds_hand_case(spark):
    from usgs_lidar_spark.operators.spatial import spatial_join_points_diamonds

    pts = spark.createDataFrame(
        [
            (1, 0.0, 0.0),    # center of A
            (2, 2.0, 0.0),    # ON A's boundary (|2|/2=1) AND B's (|0-1|/1=1)
            (3, 1.0, 0.5),    # inside A and B (overlap zone)
            (4, 9.0, 9.0),    # in none
        ],
        "pid long, x double, y double",
    )
    dia = spark.createDataFrame(
        [("A", 0.0, 0.0, 2.0, 1.0), ("B", 2.0, 1.0, 2.0, 1.0)],
        "poly_id string, cx double, cy double, a double, b double",
    )
    # cell chosen SMALLER than the diamonds so shapes span many cells
    got = sorted(
        (r["pid"], r["poly_id"])
        for r in spatial_join_points_diamonds(pts, dia, cell=0.7).collect()
    )
    assert got == [(1, "A"), (2, "A"), (2, "B"), (3, "A"), (3, "B")]
    # and identical with a cell larger than every diamond
    big = sorted(
        (r["pid"], r["poly_id"])
        for r in spatial_join_points_diamonds(pts, dia, cell=50.0).collect()
    )
    assert big == got


def test_nearest_neighbor_join_grid_probe(spark):
    """3x3 probe correctness: winners across cell borders, radius
    exclusion, and (d2, site_id) tie-breaks; results invariant to the
    grid by comparison with a tiny brute-force."""
    from usgs_lidar_spark.operators.spatial import nearest_neighbor_join

    pts = spark.createDataFrame(
        [(1, 0.9, 0.9), (2, 5.0, 5.0), (3, 2.0, 0.0)],
        "pid long, x double, y double",
    )
    sites = spark.createDataFrame(
        [(10, 1.1, 1.1), (11, 1.0, 0.0), (12, 3.0, 0.0), (13, 99.0, 99.0)],
        "site_id long, sx double, sy double",
    )
    got = {
        r["pid"]: (r["nearest_site_id"], round(r["nearest_d2"], 6))
        for r in nearest_neighbor_join(pts, sites, radius=1.5).collect()
    }
    # pid 1: site 10 at d2=0.08 (crosses a cell border at 1.5-width grid)
    # pid 3: sites 11 and 12 both at d2=1.0 -> tie, lower id 11 wins
    # pid 2: nothing within 1.5 -> dropped
    assert got == {1: (10, 0.08), 3: (11, 1.0)}


def test_interval_overlap_join_semantics(spark):
    import pytest

    from usgs_lidar_spark.operators.asof import interval_overlap_join

    iv = spark.createDataFrame(
        [
            (1, "a", 0, 10),
            (1, "b", 10, 20),   # touches a (half-open: NOT overlapping)
            (1, "c", 5, 100),   # overlaps a, b, d; spans many buckets
            (1, "d", 99, 101),
            (2, "e", 0, 10),    # other key: never pairs with key 1
        ],
        "k long, iid string, start long, end long",
    )
    pairs = {
        tuple(sorted((r["iid"], r["iid_r"])))
        for r in interval_overlap_join(iv, iv, ["k"], bucket_width=7).collect()
        if r["iid"] != r["iid_r"]
    }
    assert pairs == {("a", "c"), ("b", "c"), ("c", "d")}
    # bucket width must not change the answer
    wide = {
        tuple(sorted((r["iid"], r["iid_r"])))
        for r in interval_overlap_join(iv, iv, ["k"], bucket_width=1000).collect()
        if r["iid"] != r["iid_r"]
    }
    assert wide == pairs
    with pytest.raises(ValueError):
        interval_overlap_join(iv, iv, ["k"], bucket_width=0)


def test_sq8_codes_bounded_and_degenerate_dims(spark):
    """SQ8 codes stay in [0, 255]; a constant dimension gets scale 0,
    code 0, and reconstructs to exactly its constant value."""
    from usgs_lidar_spark.operators.similarity import (
        _sq8_recon_expr,
        sq8_bounds,
        sq8_encode,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 5.0, -2.0]), (2, [0.0, 7.0, 3.0]), (3, [0.0, 6.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    mins, scales = sq8_bounds(df)
    assert mins[0] == 0.0 and scales[0] == 0.0  # degenerate dim
    enc = sq8_encode(df, mins, scales).withColumn(
        "recon", _sq8_recon_expr("sq8_codes", mins, scales)
    )
    rows = {r["vec_id"]: r for r in enc.collect()}
    for r in rows.values():
        assert all(0 <= c <= 255 for c in r["sq8_codes"])
        assert r["recon"][0] == 0.0  # exact for constant dims
    # extremes land on the extreme codes
    assert rows[1]["sq8_codes"][1] == 0 and rows[2]["sq8_codes"][1] == 255


def test_sq8_rerank_recovers_exact_topk(spark):
    """With rerank=corpus-size the SQ8 short list covers everything, so
    the exact re-rank must reproduce brute-force top-k bit-for-bit; with
    a small rerank window recall must be at least pure-SQ8's."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
        sq8_bounds,
        sq8_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    mins, scales = sq8_bounds(emb, "embedding")

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = cosine_topk_bruteforce(emb, q, k=5)
    full_rerank = sq8_topk(emb, q, mins, scales, k=5, rerank=10**9)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, full_rerank.collect())
    )
    pure = pairs(sq8_topk(emb, q, mins, scales, k=5))
    rr = pairs(sq8_topk(emb, q, mins, scales, k=5, rerank=25))
    ex = pairs(exact)
    assert len(rr & ex) >= len(pure & ex)


def test_sq8_rerank_below_k_raises(spark):
    """A re-rank short list shorter than k would cut every query's result
    to `rerank` rows; sq8_topk refuses it, with or without centroids."""
    from usgs_lidar_spark.operators.similarity import sq8_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    mins, scales = [0.0, 1.0], [7.0 / 255.0, 0.0]
    for cents in (None, [(0, [1.0, 0.0]), (1, [0.0, 1.0])]):
        with pytest.raises(ValueError, match="rerank=2 < k=5"):
            sq8_topk(emb, q, mins, scales, k=5, rerank=2, centroids=cents)
        assert sq8_topk(
            emb, q, mins, scales, k=5, rerank=5, centroids=cents, n_probe=2
        ).groupBy("query_id").count().filter("count != 5").count() == 0


def test_range_search_lsh_subset_of_exact(spark):
    """Bucketed range search can only MISS pairs, never invent them: its
    result set is a subset of exact range search at the same tau, and
    every returned sim is >= tau."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import cosine_range_search

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_range_search(emb, q, threshold=0.25)
    lsh = cosine_range_search(emb, q, threshold=0.25, n_bits=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    l_ = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    assert l_ <= e
    assert all(r["sim"] >= 0.25 for r in lsh.collect())
    assert len(e) > 0


def test_duplicate_ngram_spans_hand_case(spark):
    """Overlapping duplicated windows count covered tokens ONCE: two docs
    share 'a b c d' (positions 1 and 2 both duplicated with n=3 in doc 1
    — union covers tokens 1..4, not 6), and a unique doc reports zeros."""
    from usgs_lidar_spark.operators.dedup import duplicate_ngram_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d x y"),
            (2, "z a b c d w"),
            (3, "p q r s t u"),
            (4, "one two"),  # shorter than n: zero grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_ngram_spans(df, n=3, min_docs=2).collect()
    }
    # doc 1: grams at pos 1..4; 'a b c'(1) and 'b c d'(2) shared with doc 2
    assert out[1]["n_grams"] == 4
    assert out[1]["n_dup_grams"] == 2
    assert out[1]["dup_tokens_covered"] == 4  # union of [1,3] and [2,4]
    assert abs(out[1]["dup_token_fraction"] - 4 / 6) < 1e-12
    # doc 2: shared grams at pos 2,3 -> union [2,5] = 4 tokens
    assert out[2]["n_dup_grams"] == 2 and out[2]["dup_tokens_covered"] == 4
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_token_fraction"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["dup_tokens_covered"] == 0


def test_pagerank_fixed_matches_python_reference(spark):
    """pagerank_fixed reproduces an independent integer-arithmetic
    reference on an asymmetric graph, mass concentrates on the hub, and
    total mass stays ~1 (integer-div rounding only ever loses <1/scale
    per term)."""
    from usgs_lidar_spark.operators.graph import pagerank_fixed

    # star: hub 1 <-> {2,3,4}, plus chain 4 <-> 5
    und = [(1, 2), (1, 3), (1, 4), (4, 5)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["rank_scaled"] for r in pagerank_fixed(df, iterations=3).collect()}

    scale, n = 10**12, 5
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: scale // n for v in deg}
    for _ in range(3):
        s = {v: 0 for v in deg}
        for a, b in edges:
            s[b] += r[a] // deg[a]
        r = {v: 15 * scale // (100 * n) + 85 * s[v] // 100 for v in deg}
    assert out == r
    assert r[1] == max(r.values())  # hub dominates
    assert abs(sum(out.values()) - scale) < 1000  # mass conserved


def test_edge_table_pagerank_parity_and_shuffle(spark, tmp_path):
    """A persisted src-bucketed edge table (write_edge_table) serves
    pagerank_fixed(edges_materialized=True) with (a) ranks identical to
    the build-per-query path, and (b) strictly fewer shuffle Exchanges:
    the bucketed scan's output partitioning survives into the
    per-iteration contribution joins, so the edge side never
    re-exchanges (the localCheckpoint path re-shuffles it every
    iteration)."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.graph import (
        copurchase_edges,
        pagerank_fixed,
        read_edge_table,
        write_edge_table,
    )
    from tests.conftest import SF_SMALL

    pairs = copurchase_edges(
        load_table(spark, SF_SMALL, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_support=2,
        max_basket=8,
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # Small-SF sides would broadcast, sidestepping the layout under
        # test — a real co-purchase graph's degree/rank frames are
        # fact-sized and join sort-merge.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # Bucket count must MATCH the shuffle partitioning for the scan's
        # partitioning to satisfy every iteration join's requirement —
        # mismatched (8 buckets, 32 shuffle partitions) re-exchanges the
        # edge side on iterations 2+. Sizing buckets to the cluster's
        # partitioning is part of the layout contract.
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        write_edge_table(
            pairs, "t_copurchase_edges", n_buckets=8,
            path=str(tmp_path / "edges"), symmetrize=True,
        )
        direct_edges = pairs.select("src", "dst").unionAll(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        want = {
            r["node"]: r["rank_scaled"]
            for r in pagerank_fixed(direct_edges, iterations=3).collect()
        }
        served = pagerank_fixed(
            read_edge_table(spark, "t_copurchase_edges"),
            iterations=3,
            edges_materialized=True,
        )
        got = {r["node"]: r["rank_scaled"] for r in served.collect()}
        assert got == want
        plan_b = served._jdf.queryExecution().executedPlan().toString()
        plain = pagerank_fixed(
            spark.read.parquet(str(tmp_path / "edges")),
            iterations=3,
            edges_materialized=False,
        )
        plan_p = plain._jdf.queryExecution().executedPlan().toString()
        # The load-bearing assertion: the EDGE side (__esrc) of every
        # iteration join rides the bucketed scan's partitioning — zero
        # edge re-shuffles — while the unbucketed path exchanges the
        # edge frame every iteration.
        assert "Exchange hashpartitioning(__esrc" not in plan_b, plan_b
        assert "Exchange hashpartitioning(__esrc" in plan_p
        assert "SortMergeJoin" in plan_b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_copurchase_edges")


def test_pagerank_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_mode='reliable' (DataFrame.checkpoint to the
    fault-tolerant dir — the real-cluster toggle where executor-local
    blocks die with their executor) produces ranks identical to the
    default local mode; an unknown mode raises."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.graph import pagerank_fixed

    und = [(1, 2), (1, 3), (2, 3), (3, 4)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = {r["node"]: r["rank_scaled"]
            for r in pagerank_fixed(df, iterations=3).collect()}
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    got = {r["node"]: r["rank_scaled"]
           for r in pagerank_fixed(
               df, iterations=3, checkpoint_mode="reliable").collect()}
    assert got == want
    with _pytest.raises(ValueError, match="checkpoint_mode"):
        pagerank_fixed(df, checkpoint_mode="remote")


def test_connected_components_reliable_checkpoint_parity(spark, tmp_path):
    """checkpoint_mode='reliable' hash-matches local mode across the
    whole CC family — both algorithms, collapse_clusters, and the
    incremental form (CC backs the heaviest dedup pass, so it needs the
    same executor-loss durability toggle pagerank got). An unknown mode
    raises."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.graph import (
        collapse_clusters,
        connected_components,
        connected_components_incremental,
    )

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    # Two clusters {1,2,3}+{10,11}, a chain 20-21-22, singleton 99.
    vids = [1, 2, 3, 10, 11, 20, 21, 22, 99]
    eds = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
    v = spark.createDataFrame([(i,) for i in vids], "id long")
    e = spark.createDataFrame(eds, "src long, dst long")

    for algo in ("minlabel", "star"):
        base = {
            (r["id"], r["cluster_id"])
            for r in connected_components(v, e, algorithm=algo).collect()
        }
        rel = {
            (r["id"], r["cluster_id"])
            for r in connected_components(
                v, e, algorithm=algo, checkpoint_mode="reliable"
            ).collect()
        }
        assert rel == base, algo

    docs = v.withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(eds, "id_a long, id_b long")
    loc = {
        tuple(r) for r in collapse_clusters(docs, pairs).collect()
    }
    rel = {
        tuple(r)
        for r in collapse_clusters(
            docs, pairs, checkpoint_mode="reliable"
        ).collect()
    }
    assert rel == loc

    old = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, label long"
    )
    newv = spark.createDataFrame([(50,)], "id long")
    newe = spark.createDataFrame([(50, 2)], "src long, dst long")
    inc_loc = {
        tuple(r)
        for r in connected_components_incremental(old, newv, newe).collect()
    }
    inc_rel = {
        tuple(r)
        for r in connected_components_incremental(
            old, newv, newe, checkpoint_mode="reliable"
        ).collect()
    }
    assert inc_rel == inc_loc
    with _pytest.raises(ValueError, match="checkpoint_mode"):
        connected_components(v, e, checkpoint_mode="remote")


def test_curriculum_order_invariants(spark):
    """Stages are monotone in score, global_step interleaves round-robin
    (step % n_stages == stage), steps are unique, and the schedule is
    invariant under repartitioning."""
    from usgs_lidar_spark.operators.pipeline import curriculum_order

    rows = [(i, (i * 7) % 100 + 1) for i in range(1, 81)]
    df = spark.createDataFrame(rows, "doc_id long, score long")
    out = curriculum_order(df, "doc_id", "score", n_stages=4).collect()
    by_id = {r["doc_id"]: r for r in out}
    # monotone: a higher-stage row never has a lower score than the
    # max score of the stage below
    stage_scores = {}
    for r in out:
        stage_scores.setdefault(r["stage"], []).append(r["score"])
    stages = sorted(stage_scores)
    for lo, hi in zip(stages, stages[1:]):
        assert max(stage_scores[lo]) <= min(stage_scores[hi])
    assert all(r["global_step"] % 4 == r["stage"] for r in out)
    steps = [r["global_step"] for r in out]
    assert len(set(steps)) == len(steps)
    out2 = curriculum_order(
        df.repartition(13), "doc_id", "score", n_stages=4
    ).collect()
    assert {r["doc_id"]: r["global_step"] for r in out2} == {
        i: by_id[i]["global_step"] for i in by_id
    }


def test_profile_numeric_single_scan_and_values(spark):
    """The profiler reads the table ONCE (one scan node in the physical
    plan despite profiling 3 columns) and reports exact stats."""
    from usgs_lidar_spark.operators.dq import profile_numeric

    df = spark.createDataFrame(
        [(1.0, None, 5.0), (2.0, 7.0, 5.0), (None, 7.0, 5.0)],
        "a double, b double, c double",
    )
    out = {r["col_name"]: r for r in profile_numeric(df, ["a", "b", "c"]).collect()}
    assert out["a"]["n_rows"] == 3 and out["a"]["n_null"] == 1
    assert out["a"]["n_distinct"] == 2
    assert out["b"]["min_value"] == 7.0 and out["b"]["max_value"] == 7.0
    assert out["c"]["n_distinct"] == 1

    import io, contextlib
    from usgs_lidar_spark.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    prof = profile_numeric(li, ["l_quantity", "l_tax", "l_discount"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        prof.explain("formatted")
    plan = buf.getvalue()
    import re

    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1


def test_triangle_count_hand_case(spark):
    """K4 on {1,2,3,4}: every node is in C(3,2)=3 triangles; adding a
    pendant edge (4,5) creates none; disconnected edge (6,7) none."""
    from usgs_lidar_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(4, 5), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_priority_sample_weight_proportional(spark):
    """Exact-k contract + weight proportionality: every group returns
    exactly k rows (or all when smaller), and across seeds the
    high-weight stratum is sampled far more often than the low-weight
    one (priorities scale as u/w)."""
    from usgs_lidar_spark.operators.pipeline import priority_sample_k_per_group

    rows = [(i, "g", 1000 if i <= 50 else 1) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w long")
    heavy = 0
    for seed in range(5):
        got = priority_sample_k_per_group(
            df, "doc_id", "g", "w", k=10, seed=seed
        ).collect()
        assert len(got) == 10
        heavy += sum(1 for r in got if r["w"] == 1000)
    assert heavy >= 40  # 1000:1 weights -> overwhelmingly heavy picks
    # groups smaller than k return whole group
    small = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 5)], "doc_id long, g string, w long"
    )
    assert priority_sample_k_per_group(small, "doc_id", "g", "w", k=10).count() == 2
    # NULL / nonpositive weights excluded
    bad = spark.createDataFrame(
        [(1, "a", None), (2, "a", 0), (3, "a", 4)],
        "doc_id long, g string, w long",
    )
    out = priority_sample_k_per_group(bad, "doc_id", "g", "w", k=10).collect()
    assert [r["doc_id"] for r in out] == [3]


def test_ivf_sq8_rerank_matches_ivf_exact(spark):
    """With a full-width re-rank, IVF-SQ8 must reproduce plain IVF's
    exact-cosine results over the same probed cells (quantization only
    reorders the shortlist, and the shortlist covers everything); probing
    every cell as well, it must reproduce brute force."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
        sq8_bounds,
        sq8_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    mins, scales = sq8_bounds(emb, "embedding")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ivf_topk(emb, q, seeds, k=5, n_probe=2)
    sq8 = sq8_topk(
        emb, q, mins, scales, k=5, rerank=10**9, centroids=seeds, n_probe=2
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, sq8.collect())
    )
    probe_all = sq8_topk(
        emb, q, mins, scales, k=5, rerank=10**9, centroids=seeds,
        n_probe=len(seeds),
    )
    brute = cosine_topk_bruteforce(emb, q, k=5)
    assert sorted(map(tuple, brute.collect())) == sorted(
        map(tuple, probe_all.collect())
    )


def test_hillshade_flat_and_slope_direction(spark):
    """A flat plane shades at cos(zenith)*255 everywhere; a plane tilted
    toward the light (NW azimuth 315) shades brighter than one tilted
    away, and outputs stay within [0, 255]."""
    import math
    from usgs_lidar_spark.operators.terrain import hillshade_grid

    flat = spark.createDataFrame(
        [(x, y, 5.0) for x in range(4) for y in range(4)],
        "ix long, iy long, cz double",
    )
    out = hillshade_grid(flat).collect()
    assert out and all(
        abs(r["hillshade"] - math.cos(math.radians(45)) * 255) < 1e-9
        for r in out
    )
    # z rises toward +x: surface faces -x (west-ish); light from NW
    # (az 315 -> -cos a * dzdx = -(+0.707...)*1 ... sign check by compare)
    tilt_px = spark.createDataFrame(
        [(x, y, float(x)) for x in range(5) for y in range(5)],
        "ix long, iy long, cz double",
    )
    tilt_mx = spark.createDataFrame(
        [(x, y, float(-x)) for x in range(5) for y in range(5)],
        "ix long, iy long, cz double",
    )
    s_px = hillshade_grid(tilt_px).agg(F.avg("hillshade")).collect()[0][0]
    s_mx = hillshade_grid(tilt_mx).agg(F.avg("hillshade")).collect()[0][0]
    # Light from the NW: the WEST-facing slope (z rises toward +x=east,
    # normal points -x) catches the sun; the east-facing one is darker.
    assert s_px > s_mx
    for df in (tilt_px, tilt_mx):
        for r in hillshade_grid(df).collect():
            assert 0.0 <= r["hillshade"] <= 255.0
    # Exact closed-form pins: z=x is a 45° west-facing slope. Sun due
    # WEST (az 270) at alt 45 hits it head-on -> shade exactly 255; sun
    # due EAST (az 90) grazes at 90° -> exactly 0.
    for az, want in ((270.0, 255.0), (90.0, 0.0)):
        got = hillshade_grid(tilt_px, azimuth_deg=az).collect()
        assert got and all(abs(r["hillshade"] - want) < 1e-9 for r in got)


def test_substring_spans_hashed_matches_string_form(spark):
    """hash_grams=True shuffles 8-byte keys but must report identical
    span statistics to the string form (collisions are 2^-64 events)."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.dedup import duplicate_ngram_spans

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    s = duplicate_ngram_spans(docs, n=8).collect()
    h = duplicate_ngram_spans(docs, n=8, hash_grams=True).collect()
    assert sorted(map(tuple, s)) == sorted(map(tuple, h))


def test_connected_components_incremental_merges_old_components(spark):
    """A new vertex bridging two OLD components merges them under the
    global min label; untouched components keep their labels; isolated
    new vertices label themselves. Equals from-scratch CC on the union."""
    from usgs_lidar_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    # base: components {1,2}, {5,6}, {8} labeled by their mins
    old_edges = [(1, 2), (5, 6)]
    old_vs = [1, 2, 5, 6, 8]
    old_labels = connected_components(
        spark.createDataFrame([(v,) for v in old_vs], "id long"),
        spark.createDataFrame(old_edges, "src long, dst long"),
    ).select("id", F.col("cluster_id").alias("label"))
    # new vertex 10 bridges 2 and 6; new vertex 11 is isolated
    new_vs = spark.createDataFrame([(10,), (11,)], "id long")
    new_edges = spark.createDataFrame(
        [(10, 2), (10, 6)], "src long, dst long"
    )
    got = {
        r["id"]: r["label"]
        for r in connected_components_incremental(
            old_labels, new_vs, new_edges
        ).collect()
    }
    want_pairs = connected_components(
        spark.createDataFrame([(v,) for v in old_vs + [10, 11]], "id long"),
        spark.createDataFrame(
            old_edges + [(10, 2), (10, 6)], "src long, dst long"
        ),
    ).collect()
    want = {r["id"]: r["cluster_id"] for r in want_pairs}
    assert got == want
    assert got[6] == 1 and got[10] == 1  # merged under global min
    assert got[8] == 8 and got[11] == 11


def test_mixture_schedule_proportional_prefixes(spark):
    """Reading in priority order consumes sources ~proportionally to
    their weights at every prefix; per-source positions are dense; and
    unknown sources are excluded, not silently weighted."""
    from usgs_lidar_spark.operators.pipeline import mixture_schedule

    rows = [(i, "a") for i in range(100)] + [(1000 + i, "b") for i in range(100)]
    rows += [(5000, "zzz")]  # not in the mixture
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_schedule(df, "doc_id", "source", {"a": 3.0, "b": 1.0})
    ordered = sorted(out.collect(), key=lambda r: (r["priority"], r["doc_id"]))
    assert len(ordered) == 200  # zzz excluded
    # prefix proportionality: after 40 steps, ~30 a's and ~10 b's
    prefix = ordered[:40]
    n_a = sum(1 for r in prefix if r["source"] == "a")
    assert 28 <= n_a <= 32
    for src in ("a", "b"):
        pos = sorted(r["src_pos"] for r in ordered if r["source"] == src)
        assert pos == list(range(100))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mixture_schedule(df, "doc_id", "source", {"a": 0.0})


def test_embed_standardize_whitens(spark):
    """Standardized vectors have ~zero per-dim mean and unit std (up to
    the 1e-6 fixed-point rounding of the stats), zero-variance dims are
    centered without dividing, and the op is map-only on the corpus."""
    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        embed_moments,
        embed_standardize,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    stats = {r["dim"]: r for r in embed_moments(emb).collect()}
    d = len(stats)
    means = [stats[i]["mean"] for i in range(d)]
    stds = [stats[i]["std"] for i in range(d)]
    out = embed_standardize(emb, means, stds)
    re_stats = embed_moments(out, "embedding_std").collect()
    for r in re_stats:
        assert abs(r["mean"]) < 1e-4
        if stds[r["dim"]] > 0:
            assert abs(r["std"] - 1.0) < 1e-3
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "Exchange" not in buf.getvalue()  # map-only


def test_copurchase_edges_cap_rule_deterministic(spark):
    """The max_basket truncation keeps exactly the cap's worth of items
    per basket, chosen by (Lehmer hash, item) rank — deterministic
    across layouts — and an uncapped build equals the inline self-join."""
    from usgs_lidar_spark.operators.graph import copurchase_edges
    from usgs_lidar_spark.operators.pipeline import portable_hash_long

    rows = [(b, i) for b in range(3) for i in range(1, 8)]  # 3 baskets x 7
    df = spark.createDataFrame(rows, ["basket", "item"])

    # uncapped: all C(7,2)=21 pairs per basket, support 3 each
    full = copurchase_edges(df, "basket", "item", min_support=3)
    assert full.count() == 21

    capped = copurchase_edges(
        df, "basket", "item", min_support=1, max_basket=3, keep_support=True
    )
    # which 3 items survive is the hash-rank prefix, same for every basket
    keep = [
        r["item"]
        for r in spark.createDataFrame([(i,) for i in range(1, 8)], ["item"])
        .select("item", portable_hash_long("item").alias("h"))
        .orderBy("h", "item")
        .limit(3)
        .collect()
    ]
    want = {
        (min(a, b), max(a, b)) for a in keep for b in keep if a != b
    }
    got = {(r["src"], r["dst"]): r["support"] for r in capped.collect()}
    assert set(got) == want
    assert all(s == 3 for s in got.values())
    # determinism across partitioning layouts
    again = copurchase_edges(
        df.repartition(7), "basket", "item", min_support=1, max_basket=3,
        keep_support=True,
    )
    assert {(r["src"], r["dst"]): r["support"] for r in again.collect()} == got
    with pytest.raises(ValueError, match="max_basket"):
        copurchase_edges(df, "basket", "item", max_basket=1)


def _copurchase_capped_window(df, basket_col, item_col, min_support,
                              max_basket, seed, keep_support):
    """The capped co-purchase build as it was before the one-aggregate
    form, frozen: distinct (basket, item), a row_number window by
    (Lehmer hash, item) per basket, collect_list of the kept rows and
    the ordered pairs of each list."""
    from pyspark.sql import Window

    from usgs_lidar_spark.operators.pipeline import portable_hash_long

    li = df.select(
        F.col(basket_col).alias("__basket"), F.col(item_col).alias("__item")
    ).distinct()
    w = Window.partitionBy("__basket").orderBy(
        portable_hash_long("__item", seed), F.col("__item")
    )
    li = (
        li.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_basket)
        .drop("__rn")
    )
    packs = li.groupBy("__basket").agg(F.collect_list("__item").alias("__items"))
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "__items",
                lambda a: F.transform(
                    F.col("__items"),
                    lambda b: F.struct(a.alias("src"), b.alias("dst")),
                ),
            )
        ),
        lambda p: p["src"] < p["dst"],
    )
    return (
        packs.select(F.explode(pair_structs).alias("__p"))
        .select("__p.src", "__p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
        .select("src", "dst", *(["support"] if keep_support else []))
    )


def test_copurchase_capped_equals_window_formulation(spark):
    """The one-aggregate capped build keeps exactly the set the frozen
    distinct -> row_number -> collect_list build kept: duplicate rows,
    null items (a null takes one slot, then drops out of every pair),
    a null basket, items whose Lehmer hashes collide (i and
    i + 2^31 - 1, tie broken by item), at caps below, at and above the
    basket sizes, for two seeds, with and without the support column."""
    from usgs_lidar_spark.operators.graph import copurchase_edges

    m = 2**31 - 1
    rows = [(b, i) for b in range(4) for i in range(1, 3 + 2 * b)]
    rows += [(b, i) for b, i in rows[::3]]  # duplicate (basket, item)
    rows += [(1, None), (2, None), (2, None), (None, 1), (None, 2), (None, 5)]
    rows += [(b, i + m) for b in (0, 3) for i in (1, 2)]  # hash collisions
    rows += [(5, i) for i in (3, 3 + m, 4, 4 + m, 7, None)]
    df = spark.createDataFrame(rows, "basket long, item long")

    cases = [(c, s, k) for c in (2, 3, 8) for s in (0, 5) for k in (0, 1)]

    def tagged(build):
        # One job per side: every (cap, seed, keep_support) case unioned
        # under a tag.
        out = None
        for max_basket, seed, keep in cases:
            e = build(df, "basket", "item", min_support=1,
                      max_basket=max_basket, seed=seed, keep_support=bool(keep))
            if not keep:
                e = e.withColumn("support", F.lit(None).cast("long"))
            e = e.select(F.lit(f"{max_basket}/{seed}/{keep}").alias("case"), "*")
            out = e if out is None else out.unionByName(e)
        return sorted(map(tuple, out.collect()), key=repr)

    got = tagged(copurchase_edges)
    assert got == tagged(_copurchase_capped_window)
    assert {r[0] for r in got} == {"/".join(map(str, c)) for c in cases}


def test_copurchase_capped_plan_one_basket_aggregate(spark):
    """The capped build is one basket aggregate and one pair aggregate:
    no Window node and exactly two shuffle exchanges. Under
    `triangle_count`, which references the edge frame three times while
    it builds its pin, the pair stage runs once: the triangles equal
    those over the frozen window build, and the build starts fewer jobs
    (a lambda pair emitter defeated AQE's stage reuse and re-ran the
    pair stage per reference)."""
    from usgs_lidar_spark.operators.graph import copurchase_edges, triangle_count
    from tests.test_plans import plan_digest

    df = spark.range(200).select(
        (F.col("id") % 17).alias("basket"), (F.col("id") % 23).alias("item")
    )
    e = copurchase_edges(df, "basket", "item", max_basket=4)
    plan = e._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan_digest(plan)["shuffle_exchange"] == 2

    sc = spark.sparkContext

    def build(edges_fn, group):
        sc.setJobGroup(group, "triangle construction")
        try:
            tri = triangle_count(
                edges_fn(df, "basket", "item", min_support=2, max_basket=4,
                         seed=0, keep_support=False)
            )
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return sorted(map(tuple, tri.collect())), jobs

    new, new_jobs = build(copurchase_edges, "capped-one-aggregate")
    old, old_jobs = build(_copurchase_capped_window, "capped-window")
    assert new == old and new
    assert new_jobs < old_jobs



def _triangle_count_join_formulation(edges, src="src", dst="dst"):
    """Frozen pre-window `triangle_count`: degrees from one aggregate over
    the endpoint union, attached by two equi-joins, then the same
    (deg, id) orientation, pin, wedge join and closing semi-join."""
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withd = (
        e0.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    lo_first = ku < kv
    e = withd.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lo_first, kv).otherwise(ku).alias("kb"),
    ).localCheckpoint()
    wedge = (
        e.join(e.select("a", F.col("b").alias("c"), F.col("kb").alias("kc")), "a")
        .filter(F.col("kb") < F.col("kc"))
        .select("a", "b", "c")
    )
    tri = wedge.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")), ["b", "c"], "left_semi"
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def test_triangle_count_equals_join_formulation(spark):
    """The degree-window build counts exactly what the frozen
    degree-aggregate + two-join build counts: a hand case, a star hub
    fused with a 5-clique, degree ties (a 6-cycle with chords), edges
    given as src > dst, an edge with a null endpoint (dropped by the
    joins, filtered by the window form), an empty frame, and a
    both-orientation edge table filtered to x < y, as
    `graph_triangles_from_edges` passes it, unpinned and pinned."""
    from usgs_lidar_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    clique = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    star = [(10, b) for b in range(100, 140)] + [(100, 101), (102, 103)]
    ring = [(20 + i, 20 + (i + 1) % 6) for i in range(6)]
    chords = [(20, 22), (22, 24), (24, 20), (21, 23), (23, 25), (25, 21)]
    cases = {
        "hand": k4 + [(4, 5), (6, 7)],
        "hub_clique": clique + star,
        "ties": ring + chords,
        "reversed": [(b, a) for a, b in k4 + clique] + [(4, 5)],
        "null_endpoint": k4 + [(1, None), (None, 2), (None, None), (4, 5)],
        "empty": [],
    }
    for name, edges in cases.items():
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(map(tuple, triangle_count(df).collect()))
        want = sorted(map(tuple, _triangle_count_join_formulation(df).collect()))
        assert got == want, name
        assert bool(got) == (name != "empty"), name

    both = spark.createDataFrame(
        [(a, b) for a, b in clique + star] + [(b, a) for a, b in clique + star],
        "x long, y long",
    )
    uniq = both.filter(F.col("x") < F.col("y"))
    for df in (uniq, uniq.localCheckpoint()):
        got = sorted(map(tuple, triangle_count(df, "x", "y").collect()))
        assert got == sorted(
            map(tuple, _triangle_count_join_formulation(df, "x", "y").collect())
        )
        assert dict(got)[10] == 6 + 2 and dict(got)[100] == 1


def test_triangle_count_construction_budget(spark):
    """Constructing `triangle_count` over the capped co-purchase build
    starts 5 jobs (the eager pin) and makes fewer than 100 py4j calls:
    the pin and the query after it are one SQL parse each, where a
    DataFrame call per step made ~1,300 calls and the degree joins'
    three references to the edge subtree cost the pin a sixth job."""
    import threading

    from usgs_lidar_spark.operators.graph import copurchase_edges, triangle_count

    df = spark.range(200).select(
        (F.col("id") % 17).alias("basket"), (F.col("id") % 23).alias("item")
    )
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    calls = [0]

    me = threading.get_ident()

    def counted(*args, **kwargs):
        # py4j frees dead JVM handles from its own finalizer thread;
        # those deletes are not construction calls.
        calls[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    sc.setJobGroup("triangle-budget", "triangle construction")
    client.send_command = counted
    try:
        tri = triangle_count(copurchase_edges(df, "basket", "item", max_basket=4))
    finally:
        client.send_command = send
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("triangle-budget")) == 5
    assert calls[0] < 100
    assert sorted(map(tuple, tri.collect())) == sorted(
        map(tuple, _triangle_count_join_formulation(
            copurchase_edges(df, "basket", "item", max_basket=4)
        ).collect())
    )

def test_tfidf_topk_hand_case(spark):
    """Integer-idf retrieval on a hand corpus: rare-term matches outrank
    common-term matches, scores are exactly tf * (1e9 div df) sums, ties
    break by id, absent terms contribute nothing, and the posting index
    agrees with hand counts."""
    from usgs_lidar_spark.operators.retrieval import (
        IDF_SCALE,
        term_doc_index,
        tfidf_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry DURIAN"),
            (4, "banana banana banana"),
        ],
        ["doc_id", "text"],
    )
    # df: apple=1, banana=3, cherry=2, durian=1 (lowercased)
    out = {
        r["doc_id"]: (r["n_hit_terms"], r["score"], r["rank"])
        for r in tfidf_topk(
            docs, ["durian", "banana", "missing"], k=10
        ).collect()
    }
    idf_b = IDF_SCALE // 3
    want = {
        3: (1, IDF_SCALE, 1),          # rare durian beats any banana pile
        4: (1, 3 * idf_b, 2),
        1: (1, 1 * idf_b, 3),          # tie with doc 2 on score -> id order
        2: (1, 1 * idf_b, 4),
    }
    assert out == want

    idx = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in term_doc_index(docs).collect()
    }
    assert idx[("apple", 1)] == 2 and idx[("cherry", 3)] == 3
    assert idx[("durian", 3)] == 1  # lowercased
    with pytest.raises(ValueError, match="query_terms"):
        tfidf_topk(docs, [])
    with pytest.raises(ValueError, match="k must"):
        tfidf_topk(docs, ["apple"], k=0)


def test_ivf_index_persistence_parity_and_pruning(spark, tmp_path):
    """write_ivf_index -> ivf_topk_from_index equals the in-memory
    ivf_topk exactly, the probe scan opens ONLY the probed cells'
    partition directories, and the quantizer sidecar round-trips."""
    import re

    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
        ivf_topk_from_index,
        read_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 8").collect()
    ]
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, cents, path)
    assert read_ivf_centroids(spark, path) == sorted(cents)

    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    mem = ivf_topk(emb, queries, cents, k=5, n_probe=2)
    disk = ivf_topk_from_index(spark, path, queries, k=5, n_probe=2)
    assert sorted(map(tuple, mem.collect())) == sorted(
        map(tuple, disk.collect())
    )
    # probing every cell makes the served search exact
    disk_all = ivf_topk_from_index(
        spark, path, queries, k=5, n_probe=len(cents)
    )
    assert sorted(map(tuple, disk_all.collect())) == sorted(
        map(tuple, cosine_topk_bruteforce(emb, queries, k=5).collect())
    )

    # pruning: the scan carries a literal PartitionFilters cid IN (...)
    # restricted to the probed cells — a strict subset of the index's
    # cells, bounded by n_queries * n_probe. (inputFiles() ignores
    # partition filters, so assert on the executed plan.)
    plan = disk._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cid#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    probed = {int(x) for x in m.group(1).split(",")}
    all_cells = {
        int(mm.group(1))
        for f in spark.read.parquet(path).inputFiles()
        if (mm := re.search(r"cid=(\d+)/", f))
    }
    assert probed and probed < all_cells
    assert len(probed) <= 3 * 2  # n_queries * n_probe upper bound


def test_bm25_topk_hand_case(spark):
    """Integer-exact BM25 on a hand corpus: every score reproduced from
    the documented rational formulas (k1=6/5, b=3/4, inv_avgdl at q6),
    TF saturation present (tf doubling < score doubling), long docs
    penalized vs short at equal tf, ties break by id."""
    from usgs_lidar_spark.operators.retrieval import (
        BM25_Q6,
        IDF_SCALE,
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),            # dl=3
            (2, "banana cherry"),                 # dl=2
            (3, "cherry cherry cherry DURIAN"),   # dl=4
        ],
        ["doc_id", "text"],
    )
    n_docs, total = 3, 9
    inv_avgdl = (n_docs * BM25_Q6) // total

    def contrib(tf, dl, df):
        den = 10 * tf * BM25_Q6 + 3 * BM25_Q6 + 9 * dl * inv_avgdl
        frac = (22 * tf * BM25_Q6 * BM25_Q6) // den
        return (IDF_SCALE // df) * frac

    # query {banana, durian}: df banana=2 (docs 1,2), durian=1 (doc 3)
    want = {
        1: (1, contrib(1, 3, 2)),
        2: (1, contrib(1, 2, 2)),
        3: (1, contrib(1, 4, 1)),
    }
    out = {
        r["doc_id"]: (r["n_hit_terms"], r["score"])
        for r in bm25_topk(docs, ["banana", "DURIAN"], k=10).collect()
    }
    assert out == want
    # rare durian outranks either banana doc; shorter banana doc (2)
    # outranks the longer one (1) at equal tf/df
    assert want[3][1] > want[2][1] > want[1][1]
    # TF saturation: doubling tf from 1 -> 2 must NOT double the fraction
    assert contrib(2, 3, 2) < 2 * contrib(1, 3, 2)
    with pytest.raises(ValueError, match="query_terms"):
        bm25_topk(docs, [])
    with pytest.raises(ValueError, match="k must"):
        bm25_topk(docs, ["apple"], k=0)


def test_phrase_match_hand_cases(spark):
    """Consecutive-phrase semantics: overlapping matches both count, an
    intervening token breaks adjacency, a repeated first term does not
    fool the window, matching is case-insensitive, first_pos is the
    earliest 0-based offset."""
    from usgs_lidar_spark.operators.retrieval import phrase_match

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),     # phrase (a b a): overlapping at 0 and 2
            (2, "a c b"),         # interrupted -> no (a b)
            (3, "a a b"),         # (a b) once, at pos 1
            (4, "x A B y"),       # case-insensitive (a b) at pos 1
        ],
        ["doc_id", "text"],
    )
    out3 = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_match(docs, ["a", "b", "a"]).collect()
    }
    assert out3 == {1: (2, 0)}
    out2 = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_match(docs, ["a", "b"]).collect()
    }
    assert out2 == {1: (2, 0), 3: (1, 1), 4: (1, 1)}
    with pytest.raises(ValueError, match="phrase"):
        phrase_match(docs, ["solo"])


def test_rrf_fuse_hand_case(spark):
    """Integer RRF: contributions are exactly RRF_SCALE // (60 + rank),
    items absent from a ranker contribute 0, an item ranked mid-list by
    BOTH rankers outscores a single ranker's #1, ties break by id."""
    from usgs_lidar_spark.operators.retrieval import RRF_SCALE, rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], ["doc_id", "rank"]
    )
    b = spark.createDataFrame(
        [(20, 1), (30, 2), (40, 3)], ["doc_id", "rank"]
    )
    out = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in rrf_fuse([a, b], k=10).collect()
    }
    c = lambda r: RRF_SCALE // (60 + r)
    want_scores = {
        10: c(1),           # only ranker a
        20: c(2) + c(1),
        30: c(3) + c(2),
        40: c(3),           # only ranker b
    }
    assert {d: s for d, (s, _) in out.items()} == want_scores
    # both-ranker items beat either solo #1
    assert out[20][1] == 1 and out[30][1] == 2
    assert out[10][1] == 3 and out[40][1] == 4  # c(1) > c(3), no tie
    with pytest.raises(ValueError, match="rankings"):
        rrf_fuse([a])
    with pytest.raises(ValueError, match="k must"):
        rrf_fuse([a, b], k=0)


def test_global_rank_matches_single_task_window(spark):
    """Distributed two-phase rank == the naive global row_number under
    the same total order, at several input partitionings."""
    from pyspark.sql import Window

    from usgs_lidar_spark.operators.ranking import global_rank

    rows = [(i % 7, 1000 - i, i) for i in range(200)]
    df = spark.createDataFrame(rows, ["grp", "val", "uid"])
    want = {
        r["uid"]: r["rank"]
        for r in df.select(
            "uid",
            F.row_number()
            .over(Window.orderBy("val", "uid"))
            .cast("long")
            .alias("rank"),
        ).collect()
    }
    for nparts in (1, 3, 13):
        got = {
            r["uid"]: r["rank"]
            for r in global_rank(
                df.repartition(nparts), ["val", "uid"], num_buckets=5
            ).select("uid", "rank").collect()
        }
        assert got == want, f"input parts={nparts}"
    with pytest.raises(ValueError, match="order_cols"):
        global_rank(df, [])
    with pytest.raises(ValueError, match="num_buckets"):
        global_rank(df, ["val", "uid"], num_buckets=1)


def test_histogram_equidepth_hand_case(spark):
    """Equi-depth invariants on a hand frame: bucket sizes differ by at
    most 1, buckets partition the rank order (hi of bucket b <= lo of
    b+1), total rows preserved, and n < buckets degrades to n
    single-row buckets."""
    from usgs_lidar_spark.operators.ranking import histogram_equidepth

    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate([5, 1, 9, 3, 3, 7, 2, 8, 6, 4])],
        ["val", "uid"],
    )
    out = sorted(
        (r["bucket"], r["n_rows"], r["lo"], r["hi"])
        for r in histogram_equidepth(df, "val", ["uid"], buckets=4).collect()
    )
    # 10 rows into 4 buckets: ((r-1)*4) div 10 -> sizes 3,2,3,2
    assert [b for b, *_ in out] == [0, 1, 2, 3]
    assert [n for _, n, *_ in out] == [3, 2, 3, 2]
    assert sum(n for _, n, *_ in out) == 10
    for (_, _, _, hi), (_, _, lo, _) in zip(out, out[1:]):
        assert hi <= lo
    small = histogram_equidepth(
        spark.createDataFrame([(1, 0), (2, 1)], ["val", "uid"]),
        "val", ["uid"], buckets=4,
    ).collect()
    assert sorted(r["n_rows"] for r in small) == [1, 1]
    with pytest.raises(ValueError, match="buckets"):
        histogram_equidepth(df, "val", ["uid"], buckets=0)


def test_global_rank_string_leading_column(spark):
    """String leading columns rank via the order-preserving 7-byte
    prefix key: result equals the naive global window under binary
    collation, including empty strings, shared long prefixes (bucket
    ties split by the full sort), multibyte UTF-8, and prefixes that
    differ only past the 7-byte cut."""
    from pyspark.sql import Window

    from usgs_lidar_spark.operators.ranking import global_rank

    words = [
        "", "a", "ab", "b", "banana", "bananza", "prefix-same-1",
        "prefix-same-2", "zebra", "Zebra", "éclair", "中文",
        "prefix-same-11", "aa", "a b",
    ]
    rows = [(w, i) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, ["s", "uid"])
    want = {
        r["uid"]: r["rank"]
        for r in df.select(
            "uid",
            F.row_number()
            .over(Window.orderBy("s", "uid"))
            .cast("long")
            .alias("rank"),
        ).collect()
    }
    got = {
        r["uid"]: r["rank"]
        for r in global_rank(df, ["s", "uid"], num_buckets=4)
        .select("uid", "rank")
        .collect()
    }
    assert got == want


def test_bm25_pruned_parity(spark):
    """Max-score pruned BM25 is row-identical to the exhaustive form —
    on a rare+common mix where θ actually prunes (k < matching docs),
    and on a tiny-seed case (fewer seeds than k -> θ=0, pruning
    self-disables). Same scores, same (score DESC, id) tie contract."""
    from usgs_lidar_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_pruned,
    )

    rows = [(i, ("common " * (1 + i % 3)) + ("rare" if i % 17 == 0 else ""))
            for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for terms, k in ((["rare", "common"], 3), (["rare"], 50),
                     (["common", "absent"], 5)):
        a = [tuple(r) for r in bm25_topk(docs, terms, k=k).collect()]
        b = [tuple(r) for r in bm25_topk_pruned(docs, terms, k=k).collect()]
        assert a == b, (terms, k)


def test_term_index_serving_parity(spark, tmp_path):
    """write_term_index -> bm25_topk_from_index equals the on-the-fly
    bm25_topk row-for-row, df derived from the read postings matches
    the corpus df, and the probe scan partition-prunes to the query
    terms' hash buckets (strict subset of the index's buckets)."""
    import re

    from usgs_lidar_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_from_index,
        write_term_index,
    )

    rows = [
        (i, f"word{i % 13} filler common shared word{(i * 7) % 13}")
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "term_index")
    write_term_index(docs, path, n_buckets=16)

    terms = ["word3", "common", "word11"]
    want = [tuple(r) for r in bm25_topk(docs, terms, k=7).collect()]
    served = bm25_topk_from_index(spark, path, terms, k=7, n_buckets=16)
    assert [tuple(r) for r in served.collect()] == want

    plan = served._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[.*tb#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    probed = {int(x) for x in m.group(1).split(",")}
    all_buckets = {
        int(mm.group(1))
        for f in spark.read.parquet(path).inputFiles()
        if (mm := re.search(r"tb=(\d+)/", f))
    }
    assert probed and probed < all_buckets
    with pytest.raises(ValueError, match="query_terms"):
        bm25_topk_from_index(spark, path, [])


def test_term_index_append_parity(spark, tmp_path):
    """Appending a batch to the term index == rebuilding it over the
    union corpus: served BM25 rows identical, sidecar stats advanced by
    the batch's exact deltas."""
    from usgs_lidar_spark.operators.retrieval import (
        append_to_term_index,
        bm25_topk_from_index,
        write_term_index,
    )

    base = spark.createDataFrame(
        [(i, f"word{i % 5} shared common") for i in range(40)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(100 + i, f"word{i % 5} fresh shared") for i in range(15)],
        ["doc_id", "text"],
    )
    inc = str(tmp_path / "inc_index")
    full = str(tmp_path / "full_index")
    write_term_index(base, inc, n_buckets=8)
    append_to_term_index(batch, inc, n_buckets=8)
    write_term_index(base.unionByName(batch), full, n_buckets=8)

    terms = ["word2", "fresh", "common"]
    a = [tuple(r) for r in
         bm25_topk_from_index(spark, inc, terms, k=10, n_buckets=8).collect()]
    b = [tuple(r) for r in
         bm25_topk_from_index(spark, full, terms, k=10, n_buckets=8).collect()]
    assert a == b
    si = spark.read.parquet(f"{inc}/_corpus_stats").collect()[0]
    sf = spark.read.parquet(f"{full}/_corpus_stats").collect()[0]
    assert tuple(si) == tuple(sf)


def test_proximity_match_hand_cases(spark):
    """Proximity semantics: any-order co-occurrence within the span,
    order-insensitivity vs phrase, window boundary inclusive, error on
    degenerate inputs."""
    from usgs_lidar_spark.operators.retrieval import proximity_match

    docs = spark.createDataFrame(
        [
            (1, "b x a"),        # span 3, reversed order
            (2, "a x x x b"),    # span 5
            (3, "a a a"),        # never covers both terms
            (4, "x a b x"),      # adjacent
        ],
        ["doc_id", "text"],
    )
    got3 = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in proximity_match(docs, ["a", "b"], window=3).collect()
    }
    assert got3 == {1: (1, 0), 4: (1, 1)}
    got5 = {
        r["doc_id"]
        for r in proximity_match(docs, ["a", "b"], window=5).collect()
    }
    assert got5 == {1, 2, 4}
    with pytest.raises(ValueError, match="distinct"):
        proximity_match(docs, ["a"], window=3)
    with pytest.raises(ValueError, match="window"):
        proximity_match(docs, ["a", "b"], window=1)
    # Regression (ADVICE r6): a repeated query term INSIDE the minimal
    # cluster — 'a b b c' with terms {a,b,c} spans a@0..c@3 = 4 <= 5, but
    # no 3 CONSECUTIVE filtered postings are pairwise-distinct, so the
    # old consecutive-m-tuple formulation returned no match.
    tri = spark.createDataFrame([(1, "a b b c")], ["doc_id", "text"])
    got_tri = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in proximity_match(tri, ["a", "b", "c"], window=5).collect()
    }
    assert got_tri == {1: (1, 0)}


def test_term_index_empty_corpus_bootstrap(spark, tmp_path):
    """An index built over an EMPTY corpus is servable and appendable:
    the schema sidecar reconstructs the empty postings frame (a
    partitionBy write of zero rows leaves no inferable data files), the
    coalesced stats sidecar stores (0, 0) rather than NULL, serving
    returns zero rows instead of crashing, and the first real append
    bootstraps the index to parity with a from-scratch build."""
    from usgs_lidar_spark.operators.retrieval import (
        append_to_term_index,
        bm25_topk_from_index,
        write_term_index,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    path = str(tmp_path / "empty_idx")
    write_term_index(empty, path, n_buckets=8)
    st = spark.read.parquet(f"{path}/_corpus_stats").collect()[0]
    assert (st["n_docs"], st["total_tokens"]) == (0, 0)
    assert bm25_topk_from_index(spark, path, ["anything"], k=5,
                                n_buckets=8).count() == 0
    batch = spark.createDataFrame(
        [(i, f"word{i % 3} shared") for i in range(12)], ["doc_id", "text"]
    )
    append_to_term_index(batch, path, n_buckets=8)
    full = str(tmp_path / "full_idx")
    write_term_index(batch, full, n_buckets=8)
    a = [tuple(r) for r in bm25_topk_from_index(
        spark, path, ["word1", "shared"], k=10, n_buckets=8).collect()]
    b = [tuple(r) for r in bm25_topk_from_index(
        spark, full, ["word1", "shared"], k=10, n_buckets=8).collect()]
    assert a == b


def test_rebuild_corpus_stats_recovers_sidecar(spark, tmp_path):
    """Crash recovery between append_to_term_index's two writes: with
    the stats sidecar left STALE (simulated by restoring the pre-append
    sidecar), rebuild_corpus_stats recomputes (n_docs, total_tokens)
    exactly from the postings — matching a from-scratch build's
    sidecar."""
    from usgs_lidar_spark.operators.retrieval import (
        append_to_term_index,
        rebuild_corpus_stats,
        write_term_index,
    )

    base = spark.createDataFrame(
        [(i, f"word{i % 4} common text") for i in range(20)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(100 + i, f"word{i % 4} fresh") for i in range(7)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "crash_idx")
    write_term_index(base, path, n_buckets=8)
    stale = [tuple(r) for r in
             spark.read.parquet(f"{path}/_corpus_stats").collect()]
    append_to_term_index(batch, path, n_buckets=8)
    # Simulate the crash: postings appended, sidecar never advanced.
    spark.createDataFrame(
        stale, "n_docs bigint, total_tokens bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_corpus_stats")
    rebuild_corpus_stats(spark, path)
    got = spark.read.parquet(f"{path}/_corpus_stats").collect()[0]
    full = str(tmp_path / "truth_idx")
    write_term_index(base.unionByName(batch), full, n_buckets=8)
    want = spark.read.parquet(f"{full}/_corpus_stats").collect()[0]
    assert (got["n_docs"], got["total_tokens"]) == (
        want["n_docs"], want["total_tokens"]
    )


def test_rebuild_corpus_stats_counts_zero_token_docs(spark, tmp_path):
    """ADVICE r7: blank-text docs leave no explode rows, so a postings
    groupBy alone undercounts n_docs after crash recovery. The term=''
    marker rows make them recoverable: rebuild over a corpus with empty
    docs matches a from-scratch sidecar, serving parity is unaffected,
    and recovery on a still-empty index is a no-op, not an
    AnalysisException."""
    from usgs_lidar_spark.operators.retrieval import (
        append_to_term_index,
        bm25_topk,
        bm25_topk_from_index,
        rebuild_corpus_stats,
        write_term_index,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "word0 common"), (3, "word1 common x")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "zt_idx")
    write_term_index(docs, path, n_buckets=8)
    built = spark.read.parquet(f"{path}/_corpus_stats").collect()[0]
    assert (built["n_docs"], built["total_tokens"]) == (4, 5)
    # Serving parity with the on-the-fly ranker (empty docs shift
    # avgdl/n_docs identically on both paths, markers never score).
    terms = ["common", "word1"]
    want = [tuple(r) for r in bm25_topk(docs, terms, k=5).collect()]
    got = [tuple(r) for r in
           bm25_topk_from_index(spark, path, terms, k=5,
                                n_buckets=8).collect()]
    assert got == want
    # Crash recovery: append a batch with zero-token docs, restore the
    # stale sidecar, rebuild — n_docs must include the empty batch.
    # ("\t" is NOT zero-token: trim strips only spaces, so tab-only
    # text yields empty-STRING tokens with dl=2 — a real posting, which
    # also pins that such docs don't collide with the ' ' marker.)
    batch = spark.createDataFrame([(10, ""), (11, "\t")],
                                  ["doc_id", "text"])
    append_to_term_index(batch, path, n_buckets=8)
    spark.createDataFrame(
        [tuple(built)], "n_docs bigint, total_tokens bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_corpus_stats")
    rebuild_corpus_stats(spark, path)
    rec = spark.read.parquet(f"{path}/_corpus_stats").collect()[0]
    truth = str(tmp_path / "zt_truth_idx")
    write_term_index(docs.unionByName(batch), truth, n_buckets=8)
    want_st = spark.read.parquet(f"{truth}/_corpus_stats").collect()[0]
    assert (rec["n_docs"], rec["total_tokens"]) == (
        want_st["n_docs"], want_st["total_tokens"]
    ) == (6, 7)
    # Empty-index recovery: schema-fallback read, (0, 0) stats.
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    epath = str(tmp_path / "empty_rec_idx")
    write_term_index(empty, epath, n_buckets=8)
    rebuild_corpus_stats(spark, epath)
    est = spark.read.parquet(f"{epath}/_corpus_stats").collect()[0]
    assert (est["n_docs"], est["total_tokens"]) == (0, 0)


def test_global_rank_rejects_all_null_leading_key(spark):
    """ADVICE r7: min/max ignore NULLs, so an ALL-NULL leading key used
    to fall into the empty-input branch (bucket 0) and rank silently —
    it must raise the same ValueError as the partial-NULL case."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.ranking import global_rank

    df = spark.createDataFrame(
        [(1, None), (2, None)], "id bigint, score double"
    )
    with _pytest.raises(ValueError, match="NULL or NaN"):
        global_rank(df, ["score", "id"]).collect()
    # Empty input still takes the trivial branch and returns empty.
    empty = spark.createDataFrame([], "id bigint, score double")
    assert global_rank(empty, ["score", "id"]).count() == 0


def test_global_rank_rejects_nan_leading_key(spark):
    """ADVICE r6: a NaN leading double has no place in a total order —
    global_rank must raise a clear ValueError, not crash with an opaque
    None-vs-int TypeError from the bucket-count sort."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.ranking import global_rank

    df = spark.createDataFrame(
        [(1, 2.0), (2, float("nan")), (3, 1.0)], ["id", "score"]
    )
    with _pytest.raises(ValueError, match="NULL or NaN"):
        global_rank(df, ["score", "id"], num_buckets=4).collect()


def test_bpe_pair_counts_hand_case(spark):
    """BPE pair statistics over the word-frequency dict: each distinct
    word's adjacent character pairs weighted by corpus frequency;
    1-char words contribute nothing (the sequence(1,0)-is-descending
    trap); deterministic (n DESC, pair) rank."""
    from usgs_lidar_spark.operators.textquality import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "ab ab ba a"), (2, "abc a")], ["doc_id", "text"]
    )
    # words: ab:2, ba:1, a:2, abc:1 -> pairs: ab = 2(ab)+1(abc) = 3,
    # ba = 1, bc = 1(abc)
    got = [(r["pair"], r["n"], r["rank"])
           for r in bpe_pair_counts(docs, top_k=10).collect()]
    assert got == [("ab", 3, 1), ("ba", 1, 2), ("bc", 1, 3)]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="top_k"):
        bpe_pair_counts(docs, top_k=0)


def test_ivf_pq_index_parity_pruning_and_compression(spark, tmp_path):
    """write_ivf_pq_index -> ivf_pq_topk_from_index equals the
    in-memory IVF-PQ (pq_adc_topk with centroids) row-for-row; the probe scan partition-prunes
    to the probed cells; and AT REST the index stores PQ codes only —
    no vector column survives into the data files (the compressed
    serving contract)."""
    import re

    from usgs_lidar_spark.operators.similarity import (
        ivf_pq_topk_from_index,
        pq_adc_topk,
        pq_codebooks_from_rows,
        write_ivf_pq_index,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = [v for _, v in rows[:8]]
    cents = [(i, v) for i, v in enumerate(seeds)]
    cbs = pq_codebooks_from_rows(seeds, n_sub=4)
    path = str(tmp_path / "ivf_pq_idx")
    write_ivf_pq_index(emb, cents, cbs, path)

    # ONE query so its 2 probed cells are a strict subset of the 8 —
    # more queries legitimately cover every cell on this tiny corpus.
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = sorted(
        tuple(r)
        for r in pq_adc_topk(
            emb, queries, cbs, k=5, centroids=cents, n_probe=2
        ).collect()
    )
    served = ivf_pq_topk_from_index(spark, path, queries, k=5, n_probe=2)
    assert sorted(tuple(r) for r in served.collect()) == want

    # Partition pruning: the scan carries a literal PartitionFilters
    # cid IN (...) restricted to the probed cells — a strict subset of
    # the index's cells. (inputFiles() ignores partition filters, so
    # assert on the executed plan, as in the plain-IVF index test.)
    plan = served._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cid#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    touched = {int(x) for x in m.group(1).split(",")}
    all_cells = {
        int(m.group(1))
        for f in spark.read.parquet(path).inputFiles()
        if (m := re.search(r"cid=(\d+)/", f))
    }
    assert touched and touched < all_cells
    assert len(touched) <= 2  # 1 query * n_probe
    # Compressed at rest: data files carry (vec_id, pq_codes), never the
    # embedding vector.
    stored = spark.read.parquet(path)
    assert "pq_codes" in stored.columns
    assert "embedding" not in stored.columns


def test_ivf_pq_index_append_parity(spark, tmp_path):
    """Appending a batch to the PQ index (stored quantizers re-encode
    only the batch) == rebuilding the whole index over the union
    corpus: served ADC rows identical."""
    from usgs_lidar_spark.operators.similarity import (
        append_to_ivf_pq_index,
        ivf_pq_topk_from_index,
        pq_codebooks_from_rows,
        write_ivf_pq_index,
    )

    rows = [
        (i, [float((i * 5 + j * 3) % 13) - 6.0 for j in range(8)])
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = emb.filter(F.col("vec_id") < 40)
    batch = emb.filter(F.col("vec_id") >= 40)
    seeds = [v for _, v in rows[:8]]
    cents = [(i, v) for i, v in enumerate(seeds)]
    cbs = pq_codebooks_from_rows(seeds, n_sub=4)
    inc = str(tmp_path / "inc_pq")
    full = str(tmp_path / "full_pq")
    write_ivf_pq_index(base, cents, cbs, inc)
    append_to_ivf_pq_index(batch, inc)
    write_ivf_pq_index(emb, cents, cbs, full)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(tuple(r) for r in ivf_pq_topk_from_index(
        spark, inc, queries, k=5, n_probe=3).collect())
    b = sorted(tuple(r) for r in ivf_pq_topk_from_index(
        spark, full, queries, k=5, n_probe=3).collect())
    assert a == b and a


def test_index_serving_construction_jobs(spark, tmp_path):
    """Serving from a stored index starts a fixed number of construction
    jobs: the sidecars are read with their declared schemas (no inference
    job), so ivf_topk_from_index runs 4 (centroid collect, probed-cell
    collect as two, index listing) and ivf_pq_topk_from_index 5 (plus the
    codebook collect)."""
    from usgs_lidar_spark.operators.similarity import (
        ivf_pq_topk_from_index,
        ivf_topk_from_index,
        pq_codebooks_from_rows,
        write_ivf_index,
        write_ivf_pq_index,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = [v for _, v in rows[:8]]
    cents = [(i, v) for i, v in enumerate(seeds)]
    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "ivf_pq")
    write_ivf_index(emb, cents, ivf)
    write_ivf_pq_index(emb, cents, pq_codebooks_from_rows(seeds, n_sub=4), pq)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sc = spark.sparkContext

    def jobs(group, build):
        sc.setJobGroup(group, "index serving construction")
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(
        "ivf-serve", lambda: ivf_topk_from_index(spark, ivf, queries, k=5)
    ) == 4
    assert jobs(
        "ivf-pq-serve", lambda: ivf_pq_topk_from_index(spark, pq, queries, k=5)
    ) == 5


def test_negative_samples_deterministic_and_bounded(spark):
    """Hash-ring negative sampling: output set is a pure function of
    (corpus, anchors, k, seed) — invariant under repartitioning; never
    returns the anchor itself; <= k negatives per anchor; empty corpus
    yields zero probes (no mod-by-zero under ANSI); k validated."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.pipeline import negative_samples

    docs = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id long"
    )
    anchors = docs.filter(F.col("doc_id") < 5)
    a = sorted(map(tuple, negative_samples(docs, anchors, k=3).collect()))
    b = sorted(
        map(
            tuple,
            negative_samples(
                docs.repartition(7), anchors.repartition(3), k=3
            ).collect(),
        )
    )
    assert a == b and a
    per_anchor = {}
    for anchor, neg in a:
        assert neg != anchor
        per_anchor.setdefault(anchor, set()).add(neg)
    assert set(per_anchor) <= {0, 1, 2, 3, 4}
    assert all(1 <= len(v) <= 3 for v in per_anchor.values())
    # different seed -> different (here: disjoint-ish) sample set
    c = sorted(map(tuple, negative_samples(docs, anchors, k=3,
                                           seed=9).collect()))
    assert c != a
    empty = spark.createDataFrame([], "doc_id long")
    assert negative_samples(empty, anchors, k=3).count() == 0
    with _pytest.raises(ValueError, match="k must"):
        negative_samples(docs, anchors, k=0)


def test_knn_classify_majority_and_tiebreak(spark):
    """k-NN vote semantics: majority label wins; a split vote breaks to
    the SMALLER label deterministically; self is never a neighbor."""
    from usgs_lidar_spark.operators.similarity import knn_classify

    # 2D embeddings: two tight clusters on the axes.
    rows = [
        (0, [1.0, 0.0], 0), (1, [0.99, 0.01], 0), (2, [0.98, 0.02], 0),
        (3, [0.0, 1.0], 1), (4, [0.01, 0.99], 1), (5, [0.02, 0.98], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = emb.filter(F.col("vec_id").isin([0, 3])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {r["query_id"]: (r["pred_label"], r["n_votes"])
           for r in knn_classify(emb, q, k=2).collect()}
    # query 0's two nearest are 1,2 (label 0); query 3's are 4,5 (label 1)
    assert got == {0: (0, 2), 3: (1, 2)}
    # k=4 -> votes split 2-2 for query 0 (neighbors 1,2 label 0 and two
    # of the other cluster label 1)... actually 4 nearest of q0 are
    # 1,2 (label 0) then 5,4 (label 1): tie 2-2 -> smaller label wins.
    got4 = {r["query_id"]: r["pred_label"]
            for r in knn_classify(emb, q, k=4).collect()}
    assert got4[0] == 0


def test_temperature_mix_sqrt_quotas_and_determinism(spark):
    """T=2 mixing: quotas ∝ sqrt(n) (tail groups upweighted vs
    proportional), sum(quota) <= budget, n_kept == min(quota, n),
    kept set invariant under repartitioning, budget validated."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.pipeline import temperature_mix_sqrt

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    rep = {r["lang"]: r for r in
           temperature_mix_sqrt(docs, budget=40).collect()}
    big, small = rep["big"], rep["small"]
    assert big["n_docs"] == 90 and small["n_docs"] == 10
    # proportional would give small 4/40; sqrt-weights give it more
    assert small["quota"] > 4
    assert big["quota"] + small["quota"] <= 40
    assert big["n_kept"] == big["quota"]
    assert small["n_kept"] == small["quota"]
    again = {r["lang"]: r["kept_id_sum"] for r in
             temperature_mix_sqrt(docs.repartition(7), budget=40).collect()}
    assert again == {g: r["kept_id_sum"] for g, r in rep.items()}
    with _pytest.raises(ValueError, match="budget"):
        temperature_mix_sqrt(docs, budget=0)


def test_skipgram_pairs_vs_bruteforce(spark):
    """Pair counts equal a brute-force Python skip-gram counter
    (unordered canonical pairs, window offsets 1..w, repeats counted),
    and ranking is deterministic (n DESC, w1, w2)."""
    from collections import Counter

    from usgs_lidar_spark.operators.textquality import skipgram_pairs

    texts = ["a b c d a b", "b a", "", "x", "c c c"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ref: Counter = Counter()
    for t in texts:
        ws = t.split()
        for i in range(len(ws)):
            for d in range(1, 3):
                if i + d < len(ws):
                    ref[tuple(sorted((ws[i], ws[i + d])))] += 1
    got = skipgram_pairs(docs, window=2, top_k=100).collect()
    assert {(r["w1"], r["w2"]): r["n"] for r in got} == dict(ref)
    ranks = [r["rank"] for r in sorted(got, key=lambda r: r["rank"])]
    assert ranks == list(range(1, len(got) + 1))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        skipgram_pairs(docs, window=0)


def test_hashed_feature_score_vs_bruteforce(spark):
    """Scores equal a Python reimplementation of the polynomial
    hashing-trick + weight lookup; zero-token docs keep a (0, 0) row."""
    from usgs_lidar_spark.operators.textquality import (
        _FEAT_MOD,
        hashed_feature_score,
    )

    texts = {0: "The cat THE", 1: "", 2: "zq yy"}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    wmap = {f: (f * 13) % 7 - 3 for f in range(0, 32, 2)}  # sparse weights
    weights = spark.createDataFrame(
        list(wmap.items()), "feature_id long, weight long"
    )

    def feat(w: str) -> int:
        acc = 0
        for ch in w:
            acc = (acc * 31 + ord(ch)) % _FEAT_MOD
        return acc % 32

    got = {
        r["doc_id"]: (r["n_tokens"], r["score"])
        for r in hashed_feature_score(docs, weights, n_features=32).collect()
    }
    for d, t in texts.items():
        toks = t.lower().split()
        want = sum(wmap.get(feat(w), 0) for w in toks)
        assert got[d] == (len(toks), want), d


def test_bigram_surprisal_vs_bruteforce_and_lm_split(spark):
    """Self-scored surprisal equals the Python integer reference, and
    scoring NEW docs against a separate LM corpus handles unseen
    bigrams/contexts (bc=0 / ctx=0 smoothing paths)."""
    from collections import Counter

    from usgs_lidar_spark.operators.textquality import bigram_surprisal

    lm_texts = {0: "the cat sat on the mat", 1: "the cat ran"}
    new_texts = {10: "the cat sat", 11: "unseen words here", 12: ""}

    def build(counts_texts):
        bg: Counter = Counter()
        for t in counts_texts.values():
            ws = t.lower().split()
            for a, b in zip(ws, ws[1:]):
                bg[(a, b)] += 1
        ctx: Counter = Counter()
        for (a, _b), c in bg.items():
            ctx[a] += c
        v = len({b for (_a, b) in bg})
        return bg, ctx, v

    def score(texts, bg, ctx, v):
        out = {}
        for d, t in texts.items():
            ws = t.lower().split()
            n = s = 0
            for a, b in zip(ws, ws[1:]):
                n += 1
                s += (ctx.get(a, 0) + v).bit_length() - 1
                s -= (bg.get((a, b), 0) + 1).bit_length() - 1
            out[d] = (n, s)
        return out

    lm = spark.createDataFrame(list(lm_texts.items()), "doc_id long, text string")
    new = spark.createDataFrame(list(new_texts.items()), "doc_id long, text string")

    bg, ctx, v = build(lm_texts)
    got_self = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal_bits"])
        for r in bigram_surprisal(lm).collect()
    }
    assert got_self == score(lm_texts, bg, ctx, v)
    got_new = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal_bits"])
        for r in bigram_surprisal(new, lm_docs=lm).collect()
    }
    assert got_new == score(new_texts, bg, ctx, v)


def test_chunk_dedup_docs_first_occurrence_and_reassembly(spark):
    """First corpus occurrence (min (doc_id, chunk_id)) survives, later
    copies drop, docs reassemble in chunk order, fully-deduped and
    empty docs keep (0-kept, '') rows, and the result is invariant
    under repartitioning."""
    from usgs_lidar_spark.operators.dedup import chunk_dedup_docs

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "a b c x y z"),
            (2, "d e f"),
            (3, ""),
            (4, "x y z a b c d e f"),
        ],
        "doc_id long, text string",
    )
    want = {
        0: (2, 2, "a b c d e f"),
        1: (2, 1, "x y z"),
        2: (1, 0, ""),
        3: (0, 0, ""),
        4: (3, 0, ""),
    }
    for frame in (docs, docs.repartition(7)):
        got = {
            r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
            for r in chunk_dedup_docs(frame, chunk_tokens=3).collect()
        }
        assert got == want


def test_bpe_learn_merges_classic_example_and_early_stop(spark):
    """The Sennrich toy corpus learns (e,s)->(es,t)->(l,o)->(lo,w) in
    order; a corpus where every pair is a singleton learns nothing
    (early stop below min count 2); n_merges validated."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.textquality import bpe_learn_merges

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    docs = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    got = [
        (r["step"], r["left"], r["right"], r["n"])
        for r in bpe_learn_merges(docs, n_merges=4).orderBy("step").collect()
    ]
    assert got == [(1, "e", "s", 9), (2, "es", "t", 9), (3, "l", "o", 7), (4, "lo", "w", 7)]

    singletons = spark.createDataFrame(
        [(0, "ab cd ef")], "doc_id long, text string"
    )
    assert bpe_learn_merges(singletons, n_merges=3).count() == 0
    with _pytest.raises(ValueError, match="n_merges"):
        bpe_learn_merges(docs, n_merges=0)


def test_bpe_compression_curve_monotone_and_exact(spark):
    """Curve starts at the exact corpus character count, decreases by
    the learned pair's count each round (every merge removes one symbol
    per application), and is monotone non-increasing."""
    from usgs_lidar_spark.operators.textquality import (
        bpe_compression_curve,
        bpe_learn_merges,
    )

    corpus = " ".join(["low"] * 5 + ["newest"] * 6)
    docs = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    curve = {
        r["step"]: r["corpus_symbols"]
        for r in bpe_compression_curve(docs, n_merges=3).collect()
    }
    assert curve[0] == 5 * 3 + 6 * 6  # raw characters
    merges = bpe_learn_merges(docs, n_merges=3).orderBy("step").collect()
    # non-overlapping merges here: each application removes exactly one
    # symbol, so step k drops by the learned count
    for m in merges:
        assert curve[m["step"]] == curve[m["step"] - 1] - m["n"]
    assert sorted(curve) == [0, 1, 2, 3]


def test_bpe_oracles_match_trainer_on_early_stop(spark):
    """When the trainer early-stops (no pair occurs twice after merge
    1), the unrolled DuckDB oracles must keep the last vocabulary and
    emit fewer curve rows — regression for the CROSS JOIN form where an
    empty best{k} emptied seq{k+1} and reported corpus_symbols=0 and
    zero segmentations for every later step."""
    import duckdb

    from tests.parity import assert_parity
    from usgs_lidar_spark.operators.textquality import (
        bpe_apply,
        bpe_compression_curve,
        bpe_learn_merges,
    )
    from usgs_lidar_spark.plans.queries import (
        _bpe_curve_oracle_sql,
        _bpe_oracle_sql,
        _bpe_tokenize_oracle_sql,
    )

    # vocab {aa:3, bb:1, cc:1}: merge 1 learns (a,a); afterwards every
    # pair is a singleton -> early stop with 3 of 4 rounds unused.
    rows = [(0, "aa aa bb"), (1, "aa cc"), (2, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    curve = bpe_compression_curve(docs, n_merges=4)
    assert curve.count() == 2  # proves the early stop actually fired

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    for name, sql, sdf in [
        ("merges", _bpe_oracle_sql(4), bpe_learn_merges(docs, n_merges=4)),
        ("curve", _bpe_curve_oracle_sql(4), curve),
        ("tokenize", _bpe_tokenize_oracle_sql(4), bpe_apply(docs, n_merges=4)),
    ]:
        assert_parity(sdf, con.execute(sql).fetchdf(), name=f"bpe-{name}")


def test_class_keyness_vs_bruteforce(spark):
    """keyness_bits equals the Python bit-length contingency reference
    for every (class, token); top-k selection and tie-break pinned."""
    from collections import Counter

    from usgs_lidar_spark.operators.textquality import class_keyness

    rows = [
        (0, "en", "the cat the dog"),
        (1, "en", "the bird"),
        (2, "de", "der hund der katze"),
        (3, "de", "die katze"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    cw: Counter = Counter()
    for _i, lang, t in rows:
        for w in t.lower().split():
            cw[(lang, w)] += 1
    nw: Counter = Counter()
    nc: Counter = Counter()
    for (lang, w), a in cw.items():
        nw[w] += a
        nc[lang] += a
    n = sum(cw.values())

    def bits(x: int) -> int:
        return x.bit_length() - 1

    def key(lang: str, w: str) -> int:
        a = cw[(lang, w)]
        b = nw[w] - a
        c = nc[lang] - a
        d = (n - nc[lang]) - b
        return bits(a + 1) + bits(d + 1) - bits(b + 1) - bits(c + 1)

    got = class_keyness(docs, top_k=100).collect()
    for r in got:
        assert r["keyness_bits"] == key(r["class"], r["token"]), (
            r["class"],
            r["token"],
        )
    # ranking: per class, (keyness DESC, token ASC)
    for cls in ("en", "de"):
        ranked = sorted(
            (r for r in got if r["class"] == cls), key=lambda r: r["rank"]
        )
        want = sorted(
            ((w, key(c, w)) for (c, w) in cw if c == cls),
            key=lambda t: (-t[1], t[0]),
        )
        assert [r["token"] for r in ranked] == [w for w, _ in want]


def test_new_operator_input_validation(spark):
    """Loud contracts: duplicate classifier weights, non-positive
    checkpoint_every, NULL class rows dropped visibly."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.textquality import (
        bpe_learn_merges,
        class_keyness,
        hashed_feature_score,
    )

    docs = spark.createDataFrame(
        [(0, "en", "a b"), (1, None, "c d")],
        "doc_id long, lang string, text string",
    )
    dup_w = spark.createDataFrame(
        [(1, 5), (1, 7)], "feature_id long, weight long"
    )
    with _pytest.raises(ValueError, match="unique"):
        hashed_feature_score(docs, dup_w, n_features=8)
    with _pytest.raises(ValueError, match="checkpoint_every"):
        bpe_learn_merges(docs, n_merges=2, checkpoint_every=0)
    # NULL-class rows contribute nothing; the non-null class still ranks
    got = class_keyness(docs, top_k=10).collect()
    assert {r["class"] for r in got} == {"en"}


def test_events_funnel_ordered_hand_case(spark):
    """Hand-built event streams: strict ordering required at each step
    (a purchase BEFORE the first post-view click doesn't count), and
    stage sets shrink monotonically."""
    from datetime import datetime

    from usgs_lidar_spark.plans.queries import QUERIES
    import tempfile

    rows = [
        # user 1: full ordered funnel
        (1, datetime(2026, 1, 1, 10), "view"),
        (2, datetime(2026, 1, 1, 11), "click"),
        (3, datetime(2026, 1, 1, 12), "purchase"),
        # user 2: click precedes view -> stops at view stage
        (11, datetime(2026, 1, 2, 9), "click"),
        (12, datetime(2026, 1, 2, 10), "view"),
        # user 3: purchase before click -> reaches click only
        (21, datetime(2026, 1, 3, 9), "view"),
        (22, datetime(2026, 1, 3, 10), "purchase"),
        (23, datetime(2026, 1, 3, 11), "click"),
        # user 4: never views
        (31, datetime(2026, 1, 4, 9), "click"),
    ]
    ev = spark.createDataFrame(
        [(eid, ts, uid, et, 0.0, "{}")
         for (eid, ts, et), uid in zip(rows, [1, 1, 1, 2, 2, 3, 3, 3, 4])],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        got = {
            r["stage"]: (r["n_users"], r["user_id_sum"])
            for r in QUERIES["events_funnel_ordered"](spark, d).collect()
        }
    assert got[1] == (3, 1 + 2 + 3)  # users 1,2,3 viewed
    assert got[2] == (2, 1 + 3)      # post-view clicks: users 1,3
    assert got[3] == (1, 1)          # ordered purchase: user 1 only


def test_split_leakage_consistent_with_components(spark):
    """The leakage report's cells reconstruct exactly from the two
    oracled primitives it composes (near-dup pairs x hash splits)."""
    from usgs_lidar_spark.operators.dedup import minhash_lsh_pairs
    from usgs_lidar_spark.operators.pipeline import split_by_hash
    from usgs_lidar_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id",
        k=8, num_perm=64, bands=32, threshold=0.6, max_df=20,
    ).collect()
    split = {
        r["doc_id"]: r["split"]
        for r in split_by_hash(
            docs, "doc_id", {"train": 0.8, "test": 0.2}
        ).collect()
    }
    from collections import Counter

    want_n: Counter = Counter()
    want_sum: Counter = Counter()
    for r in pairs:
        key = (split[r["id_a"]], split[r["id_b"]])
        want_n[key] += 1
        want_sum[key] += r["id_a"] + r["id_b"]
    got = QUERIES["pipe_split_leakage"](spark, sf).collect()
    assert {(r["split_a"], r["split_b"]): r["n_pairs"] for r in got} == dict(want_n)
    assert {(r["split_a"], r["split_b"]): r["id_sum"] for r in got} == dict(want_sum)


def test_chunk_dedup_incremental_equals_batch_on_ordered_ids(spark):
    """Sequential ingest (batch1 then batch2, ids ordered) produces
    exactly the global chunk_dedup_docs result: the digest store stands
    in for the earlier corpus, and within-batch election matches the
    global first-occurrence rule when ids are monotone across batches."""
    from usgs_lidar_spark.operators.dedup import (
        chunk_dedup_docs,
        chunk_dedup_incremental,
        chunk_digests,
    )

    rows = [
        (0, "a b c d e f"),
        (1, "a b c x y z"),
        (2, "p q r d e f"),
        (3, ""),
        (4, "x y z p q r a b c"),
        (5, "m n o x y z"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    b1 = docs.filter("doc_id < 3")
    b2 = docs.filter("doc_id >= 3")

    glob = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in chunk_dedup_docs(docs, chunk_tokens=3).collect()
    }
    inc1 = chunk_dedup_incremental(
        b1, chunk_digests(docs.filter("doc_id < 0"), chunk_tokens=3),
        chunk_tokens=3,
    )
    store = chunk_digests(b1, chunk_tokens=3)
    inc2 = chunk_dedup_incremental(b2, store, chunk_tokens=3)
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
        for r in inc1.unionByName(inc2).collect()
    }
    assert got == glob


def test_bpe_apply_counts_vs_manual_segmentation(spark):
    """Per-doc BPE token counts equal manual application of the learned
    merges; zero-token docs keep a (0, 0) row; bounds hold
    (n_words <= n_bpe_tokens <= character count)."""
    from usgs_lidar_spark.operators.textquality import (
        bpe_apply,
        bpe_learn_merges,
    )

    corpus = " ".join(["low"] * 5 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame(
        [(0, corpus), (1, "low widest"), (2, "")],
        "doc_id long, text string",
    )
    merges = [
        (r["left"], r["right"])
        for r in bpe_learn_merges(docs, n_merges=4).orderBy("step").collect()
    ]

    def segment(w: str) -> int:
        seq = " ".join(w)
        for l, r in merges:
            padded = " " + seq.replace(" ", "  ") + " "
            seq = padded.replace(f" {l}  {r} ", f" {l}{r} ").replace(
                "  ", " "
            ).strip()
        return len(seq.split())

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_apply(docs, n_merges=4).collect()
    }
    for d, text in ((0, corpus), (1, "low widest"), (2, "")):
        ws = text.split()
        want = (len(ws), sum(segment(w) for w in ws))
        assert got[d] == want, d
        assert got[d][0] <= got[d][1] <= sum(len(w) for w in ws)


def test_embed_gram_exact_and_partition_invariant(spark):
    """Gram entries equal the numpy int64 reference on quantized
    vectors, are invariant under repartitioning, and cover exactly the
    upper triangle."""
    import math

    import numpy as np

    from usgs_lidar_spark.operators.linalg import embed_gram_quantized

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = [
        [math.floor(float(x) * 4096.0) for x in r["embedding"]]
        for r in emb.select("embedding").collect()
    ]
    m = np.array(rows, dtype=np.int64)
    ref = m.T @ m
    got = {
        (r["i"], r["j"]): r["g"]
        for r in embed_gram_quantized(emb).collect()
    }
    d = m.shape[1]
    assert len(got) == d * (d + 1) // 2
    assert all(
        got[(i + 1, j + 1)] == ref[i, j]
        for i in range(d)
        for j in range(i, d)
    )
    got2 = {
        (r["i"], r["j"]): r["g"]
        for r in embed_gram_quantized(emb.repartition(13)).collect()
    }
    assert got == got2


def test_embed_gram_int64_envelope_exact_or_raises(spark):
    """The Gram kernel never wraps: just below the int64 envelope its
    moments equal a Python-integer reference (the batch is recomputed
    exactly past the 2^62 bound), and a moment past 2^63 raises naming
    the envelope — the one-row (2^40, 1) frame at qbits=12, whose true
    Gram entries are 2^104 and 2^64, used to come back wrapped to 0."""
    from usgs_lidar_spark.operators.linalg import embed_gram_quantized

    def gram(rows):
        emb = spark.createDataFrame(
            [(i, list(r)) for i, r in enumerate(rows)],
            "vec_id long, embedding array<double>",
        ).coalesce(1)
        return {(r["i"], r["j"]): r["g"] for r in embed_gram_quantized(emb).collect()}

    # q = (2^31 - 1, -3): two rows put g(1,1) at 2^63 - 2^33 + 2.
    x = (2**31 - 1) / 4096.0
    near = [(x, -3 / 4096.0), (x, 5 / 4096.0)]
    q = [(2**31 - 1, -3), (2**31 - 1, 5)]
    want = {
        (i + 1, j + 1): sum(r[i] * r[j] for r in q)
        for i in range(2)
        for j in range(i, 2)
    }
    assert want[(1, 1)] > 2**62
    assert gram(near) == want
    with pytest.raises(Exception, match="int64 envelope"):
        gram([(2.0**40, 1.0)])


def test_pca_components_and_projection(spark):
    """Components match a numpy eigendecomposition of the same
    quantized covariance (sign-normalized), are orthonormal and
    variance-descending; projection equals the literal dot products."""
    import numpy as np

    from usgs_lidar_spark.operators.linalg import (
        embed_pca_project,
        pca_components,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    comps = pca_components(emb, k=4)
    c = np.array(comps)
    assert c.shape == (4, 64)
    assert np.allclose(c @ c.T, np.eye(4), atol=1e-9)  # orthonormal

    full = np.array(
        [
            [float(x) for x in r["embedding"]]
            for r in emb.orderBy("vec_id").select("embedding").collect()
        ]
    )
    qfull = np.floor(full * 4096) / 4096
    cov = np.cov(qfull, rowvar=False, bias=True)
    vars_ = [float(v @ cov @ v) for v in c]
    assert vars_ == sorted(vars_, reverse=True)  # variance-descending
    # top component explains at least as much variance as any axis
    assert vars_[0] >= float(np.max(np.diag(cov))) - 1e-12

    proj = {
        r["vec_id"]: r["proj"]
        for r in embed_pca_project(emb, comps).collect()
    }
    want = full @ c.T
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").select("vec_id").collect()]
    for row_i, vid in enumerate(ids[:10]):
        assert np.allclose(proj[vid], want[row_i], atol=1e-9)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        pca_components(emb, k=0)
    with _pytest.raises(ValueError, match="components"):
        embed_pca_project(emb, [])


def test_pca_space_topk_recall_monotone_in_k(spark):
    """Retrieval in PCA space as a cheap first-stage retriever: recall
    of the exact 64-dim cosine top-10 improves monotonically with the
    number of kept components and clears 0.6 at k=48. The synthetic
    embeddings are near-ISOTROPIC (flat eigenspectrum — pca_components
    returns ~equal variances), so aggressive compression is inherently
    lossy here; the test pins the mechanism (projection feeds the ANN
    stack, quality scales with k), not a quality bar this data cannot
    support. Measured on this corpus: k=8/16/32/48 ->
    0.08/0.30/0.54/0.72."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.operators.linalg import (
        embed_pca_project,
        pca_components,
    )
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
        recall_at_k,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def topk(frame):
        q = frame.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return cosine_topk_bruteforce(
            frame, q, id_col="vec_id", vec_col="embedding",
            query_id_col="query_id", k=10,
        )

    exact = topk(emb)
    recalls = []
    for k in (16, 48):
        comps = pca_components(emb, k=k)
        proj = embed_pca_project(emb, comps).withColumnRenamed(
            "proj", "embedding"
        )
        rec = recall_at_k(topk(proj), exact).agg(
            F.sum("n_hit").alias("h"), F.sum("n_exact").alias("n")
        ).collect()[0]
        recalls.append(rec["h"] / rec["n"])
    assert recalls[0] < recalls[1], recalls
    assert recalls[1] >= 0.6, recalls


def test_poisson_bootstrap_deterministic_and_statistically_sane(spark):
    """Multiplicities follow the pinned Poisson(1) thresholds (Python
    reimplementation matches cell-for-cell), the resample is invariant
    under repartitioning, replicate means straddle the true mean, and
    n_eff concentrates near n."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.pipeline import _LEHMER_A, _LEHMER_M
    from usgs_lidar_spark.operators.stats import (
        POISSON1_THRESHOLDS,
        poisson_bootstrap,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = {
        r["doc_id"]: r["n_chars"]
        for r in docs.select("doc_id", "n_chars").collect()
    }

    def lehmer(x: int) -> int:
        v = ((x + 1) % _LEHMER_M + _LEHMER_M) % _LEHMER_M
        for _ in range(2):
            v = (v * _LEHMER_A) % _LEHMER_M
        return v

    def mult(doc_id: int, b: int) -> int:
        lo = doc_id % _LEHMER_M
        hi = doc_id % 2147483629  # stats._LEHMER_M2: the 64-bit id fold
        folded = (lo + 48271 * hi) % _LEHMER_M
        u = lehmer(folded * 131 + b)
        return sum(1 for t in POISSON1_THRESHOLDS if u >= t)

    want = {}
    for b in range(8):
        n_eff = sum(mult(d, b) for d in rows)
        vs = sum(mult(d, b) * c for d, c in rows.items())
        want[b] = (n_eff, vs)
    got = {
        r["replicate"]: (r["n_eff"], r["value_sum"])
        for r in poisson_bootstrap(
            docs, "n_chars", "doc_id", n_replicates=8
        ).collect()
    }
    assert got == want

    again = {
        r["replicate"]: (r["n_eff"], r["value_sum"])
        for r in poisson_bootstrap(
            docs.repartition(13), "n_chars", "doc_id", n_replicates=8
        ).collect()
    }
    assert again == got

    n = len(rows)
    true_mean = sum(rows.values()) / n
    means = [vs / ne for ne, vs in want.values()]
    assert min(means) < true_mean < max(means)
    assert all(abs(ne - n) < n * 0.2 for ne, _ in want.values())
    with _pytest.raises(ValueError, match="n_replicates"):
        poisson_bootstrap(docs, "n_chars", "doc_id", n_replicates=0)


def test_poisson_multiplicity_folds_high_id_bits(spark):
    """Ids that differ by a multiple of 2^31-1 must draw INDEPENDENT
    multiplicity streams (the 64-bit fold) — a plain ``id mod M``
    reduction would give them identical, perfectly correlated
    resamples at the >2^31-row id scale the docstrings target."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.operators.pipeline import _LEHMER_M
    from usgs_lidar_spark.operators.stats import poisson_multiplicity

    ids = [5, 5 + _LEHMER_M, 5 + 2 * _LEHMER_M, 7, 7 + 41 * _LEHMER_M]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    out = df.select(
        "id",
        F.array(
            *[poisson_multiplicity("id", F.lit(b)) for b in range(32)]
        ).alias("ms"),
    ).collect()
    streams = {r["id"]: tuple(r["ms"]) for r in out}
    assert streams[5] != streams[5 + _LEHMER_M]
    assert streams[5] != streams[5 + 2 * _LEHMER_M]
    assert streams[7] != streams[7 + 41 * _LEHMER_M]
    # And the fold stays deterministic: same id -> same stream.
    again = df.select(
        "id",
        F.array(
            *[poisson_multiplicity("id", F.lit(b)) for b in range(32)]
        ).alias("ms"),
    ).collect()
    assert {r["id"]: tuple(r["ms"]) for r in again} == streams


def test_poisson_bootstrap_raises_on_null_value(spark):
    """NULL values in value_col fail loudly in the same pass (no silent
    n_eff-inflating drop), for both the global and grouped forms."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.stats import (
        poisson_bootstrap,
        poisson_bootstrap_grouped,
    )

    df = spark.createDataFrame(
        [(1, 10, "en"), (2, None, "de"), (3, 30, None)],
        "doc_id long, v long, lang string",
    )
    with _pytest.raises(Exception, match="NULL in value column"):
        poisson_bootstrap(df, "v", "doc_id", n_replicates=4).collect()
    with _pytest.raises(Exception, match="NULL in value column"):
        poisson_bootstrap_grouped(
            df, "lang", "v", "doc_id", n_replicates=4
        ).collect()
    # The raise must not depend on the DRAW (ADVICE r9): a NULL row
    # whose multiplicity is 0 in every replicate used to be pruned by
    # the generator before the raise branch could evaluate. Find an id
    # that draws m=0 at replicate 0 and bootstrap it alone with B=1.
    from usgs_lidar_spark.operators.stats import poisson_multiplicity

    ms = (
        spark.range(100)
        .select("id", poisson_multiplicity("id", F.lit(0)).alias("m"))
        .collect()
    )
    dead = next(int(r["id"]) for r in ms if r["m"] == 0)
    df_dead = spark.createDataFrame([(dead, None)], "doc_id long, v long")
    with _pytest.raises(Exception, match="NULL in value column"):
        poisson_bootstrap(df_dead, "v", "doc_id", n_replicates=1).collect()
    # NULL GROUPS are data and still pass through (only NULL values raise).
    ok = poisson_bootstrap_grouped(
        df.fillna({"v": 0}), "lang", "v", "doc_id", n_replicates=4
    )
    assert ok.filter(ok["group"].isNull()).count() == 4


def test_budget_prefix_select_rejects_fractional_weights(spark):
    """A double weight column fails loudly — the budget accounting sums
    exact BIGINTs, so casting would silently floor each row's weight
    (same loud-failure class as the NULL/negative rejection)."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.ranking import budget_prefix_select

    df = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "doc_id long, score long, w double"
    )
    with _pytest.raises(ValueError, match="fractional"):
        budget_prefix_select(df, "score", "w", budget=3)
    # Integral weights of any width pass the gate.
    ok = budget_prefix_select(
        df.withColumn("w", df["w"].cast("int")), "score", "w", budget=3
    )
    assert ok.count() == 2
    # decimal(p<=18, 0) is an exact integral type (decimal-typed
    # warehouses, ADVICE r9) — accepted, same selection as the long
    # form; fractional-scale and >int64-wide decimals still reject.
    # (Weights start integral: cast-to-decimal ROUNDS 1.5 while
    # cast-to-long floors it, which would compare different inputs.)
    iw = df.withColumn("w", (df["doc_id"] * 1).cast("long"))
    got_dec = sorted(
        r["doc_id"]
        for r in budget_prefix_select(
            iw.withColumn("w", iw["w"].cast("decimal(10,0)")),
            "score", "w", budget=3,
        ).collect()
    )
    got_long = sorted(
        r["doc_id"]
        for r in budget_prefix_select(iw, "score", "w", budget=3).collect()
    )
    assert got_dec == got_long
    with _pytest.raises(ValueError, match="fractional|decimal"):
        budget_prefix_select(
            df.withColumn("w", df["w"].cast("decimal(10,2)")),
            "score", "w", budget=3,
        )
    with _pytest.raises(ValueError, match="overflow|decimal"):
        budget_prefix_select(
            df.withColumn("w", df["w"].cast("decimal(38,0)")),
            "score", "w", budget=3,
        )


def test_budget_prefix_select_rejects_infinite_scores(spark):
    """ADVICE r11 (low): +/-Infinity scores are legal doubles but made
    the range-bucket domain literal the bare SQL token `inf`, surfacing
    as UNRESOLVED_COLUMN instead of the documented loud contract error
    (a regression vs the pre-round-11 collect-based form). Pins: both
    infinities raise the contract ValueError, and finite doubles of
    extreme magnitude still work."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.ranking import budget_prefix_select

    for bad in (float("inf"), float("-inf")):
        df = spark.createDataFrame(
            [(1, bad, 1), (2, 5.0, 1)], "doc_id long, score double, w long"
        )
        with _pytest.raises(ValueError, match="Infinity"):
            budget_prefix_select(df, "score", "w", budget=2)

    # Finite extremes are fine (the guard is isnan|isinf, not a range).
    big = spark.createDataFrame(
        [(1, 1.7e308, 1), (2, -1.7e308, 1), (3, 0.0, 1)],
        "doc_id long, score double, w long",
    )
    got = sorted(
        r["doc_id"]
        for r in budget_prefix_select(big, "score", "w", budget=2).collect()
    )
    assert got == [1, 3]  # best two scores fit the 2-token budget


def test_budget_prefix_select_vs_bruteforce(spark):
    """Kept set equals the row-level greedy prefix for assorted budgets
    (boundary mid-bucket, boundary at bucket edge, everything fits,
    budget 0); invariant under repartitioning; loud on NULL/negative."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.ranking import budget_prefix_select

    rows = [(i, (i * 7) % 5, (i % 4) + 1) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, score long, tokens long")

    def brute(budget: int) -> set[int]:
        acc, kept = 0, set()
        for sc, d, t in sorted(
            ((s, d, t) for d, s, t in rows), key=lambda x: (-x[0], x[1])
        ):
            if acc + t <= budget:
                acc += t
                kept.add(d)
            else:
                break
        return kept

    for budget in (0, 7, 23, 24, 1000):
        for frame in (df, df.repartition(7)):
            got = {
                r["doc_id"]
                for r in budget_prefix_select(
                    frame, "score", "tokens", budget
                ).collect()
            }
            assert got == brute(budget), budget

    with _pytest.raises(ValueError, match="negative weight"):
        budget_prefix_select(
            spark.createDataFrame(
                [(1, 1, -2)], "doc_id long, score long, tokens long"
            ),
            "score",
            "tokens",
            10,
        )
    with _pytest.raises(ValueError, match="budget"):
        budget_prefix_select(df, "score", "tokens", -1)


def test_budget_prefix_select_wide_domain_and_nan(spark):
    """Round 11 (fully distributed form): a score domain far wider than
    the bucket knob — every score distinct, spanning many range
    buckets — still matches the row-level greedy prefix exactly, and a
    NaN score is rejected loudly (no position in a total order —
    global_rank's contract; the old collect-based form ordered NaN
    arbitrarily)."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.ranking import budget_prefix_select

    # 5000 distinct scores scattered over [0, 1e9): boundary lands
    # mid-bucket; weights 1..4.
    rows = [
        (i, (i * 2654435761) % 1_000_000_000, (i % 4) + 1)
        for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, score long, w long")

    def brute(budget: int) -> set[int]:
        acc, kept = 0, set()
        for sc, d, wt in sorted(
            ((s, d, t) for d, s, t in rows), key=lambda x: (-x[0], x[1])
        ):
            if acc + wt <= budget:
                acc += wt
                kept.add(d)
            else:
                break
        return kept

    for budget in (0, 137, 5003):
        got = {
            r["doc_id"]
            for r in budget_prefix_select(
                df.repartition(13), "score", "w", budget
            ).collect()
        }
        assert got == brute(budget), budget

    nan_df = spark.createDataFrame(
        [(1, 1.0, 2), (2, float("nan"), 2)],
        "doc_id long, score double, w long",
    )
    with _pytest.raises(ValueError, match="NaN"):
        budget_prefix_select(nan_df, "score", "w", 10)


def test_rp_doc_embedding_vs_bruteforce_and_jl_property(spark):
    """Cell values match the Python reimplementation exactly;
    near-identical documents land closer (higher cosine) in RP space
    than unrelated ones — the JL property the featurizer exists for."""
    import math

    from usgs_lidar_spark.operators.textquality import (
        _FEAT_MOD,
        rp_doc_embedding,
    )
    from usgs_lidar_spark.operators.pipeline import _LEHMER_A, _LEHMER_M

    texts = {
        0: "the quick brown fox jumps over the lazy dog " * 4,
        1: "the quick brown fox jumps over the lazy dog " * 4 + "extra",
        2: "completely different vocabulary everywhere tonight",
        3: "",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )

    def ph(w: str) -> int:
        acc = 0
        for ch in w:
            acc = (acc * 31 + ord(ch)) % _FEAT_MOD
        return acc

    def lehmer(x: int) -> int:
        v = ((x + 1) % _LEHMER_M + _LEHMER_M) % _LEHMER_M
        for _ in range(2):
            v = (v * _LEHMER_A) % _LEHMER_M
        return v

    def vec(t: str, dims: int = 16) -> list[int]:
        out = [0] * dims
        for w in t.lower().split():
            h = ph(w)
            for j in range(dims):
                u = lehmer(h * 17 + j) % 4
                out[j] += -1 if u == 0 else (1 if u == 2 else 0)
        return out

    got = {}
    for r in rp_doc_embedding(docs, n_dims=16).collect():
        got.setdefault(r["doc_id"], [0] * 16)[r["dim"]] = r["val"]
    for d, t in texts.items():
        assert got[d] == vec(t), d

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb) if na and nb else 0

    assert cos(got[0], got[1]) > cos(got[0], got[2])


def test_kmeans_step_exact_vs_python_reference(spark):
    """The exact Lloyd step's integer cell statistics match a Python
    reimplementation of the quantized argmax + coordinate sums
    cell-for-cell and occupancies sum to the corpus size."""
    import math

    from usgs_lidar_spark.operators.similarity import kmeans_step_exact

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.orderBy("vec_id").collect()
    ]
    cents = rows[:8]
    step = {
        (r["cid"], r["dim"]): (r["n"], r["coord_sum_q"])
        for r in kmeans_step_exact(emb, cents, qbits=20).collect()
    }

    s = 2.0**20
    qcents = [
        (cid, [math.floor(x * s) for x in v]) for cid, v in cents
    ]
    ref: dict = {}
    n_per_cell: dict = {}
    for _vid, v in rows:
        qv = [math.floor(x * s) for x in v]
        best = max(
            qcents,
            key=lambda c: (
                (
                    sum(a * b for a, b in zip(qv, c[1]))
                    / math.sqrt(sum(b * b for b in c[1]))
                )
                if any(c[1])
                else 0.0,
                -c[0],
            ),
        )[0]
        n_per_cell[best] = n_per_cell.get(best, 0) + 1
        for d0, q in enumerate(qv):
            k = (best, d0 + 1)
            ref[k] = ref.get(k, 0) + q
    want = {k: (n_per_cell[k[0]], v) for k, v in ref.items()}
    assert step == want
    assert sum(n_per_cell.values()) == len(rows)


def test_kmeans_two_steps_monotone_inertia_and_empty_cell_keep(spark):
    """Round-2 statistics reflect centroids that got BETTER (quantized
    inertia proxy does not decrease: sum_qdot-to-own-centroid per
    vector rises or holds vs round 1 aggregate), and a seed whose cell
    would be empty keeps its old centroid instead of crashing."""
    from usgs_lidar_spark.operators.similarity import (
        kmeans_step_exact,
        kmeans_two_steps_exact,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    s1 = kmeans_step_exact(emb, cents).collect()
    s2 = kmeans_two_steps_exact(emb, cents).collect()
    assert sum(r["n"] for r in s1 if r["dim"] == 1) == sum(
        r["n"] for r in s2 if r["dim"] == 1
    )
    # occupancy must stay total; per-cell membership may shift
    assert {r["cid"] for r in s2} <= {c for c, _v in cents}

    # empty-cell keep: with controlled geometry (cosine is
    # scale-invariant, so "far" means OPPOSITE, not large), a centroid
    # pointing where no vector points attracts nothing in round 1 and
    # survives the update unchanged (no KeyError, no NaN) — and stays
    # empty in round 2.
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.9, 0.2]), (2, [0.1, 1.0]), (3, [0.2, 0.8])],
        "vec_id long, embedding array<double>",
    )
    geo = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (99, [-1.0, -1.0])]
    out = kmeans_two_steps_exact(tiny, geo).collect()
    assert 99 not in {r["cid"] for r in out}
    assert sum(r["n"] for r in out if r["dim"] == 1) == 4


def test_kmeans_train_centroids_consistent_with_two_steps(spark):
    """`kmeans_train_centroids` is the same exact Lloyd cycle as
    `kmeans_two_steps_exact`, exposed as centroids instead of
    statistics: assigning the corpus to train(n_iter=1)'s output must
    reproduce the two-steps round-2 statistics row-for-row (both are
    'one update, then one assignment'), and the empty-cell keep
    passes the untouched seed through to the returned list."""
    from usgs_lidar_spark.operators.similarity import (
        kmeans_step_exact,
        kmeans_train_centroids,
        kmeans_two_steps_exact,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    trained1 = kmeans_train_centroids(emb, cents, n_iter=1)
    got = sorted(
        (int(r["cid"]), int(r["dim"]), int(r["n"]), int(r["coord_sum_q"]))
        for r in kmeans_step_exact(emb, trained1).collect()
    )
    want = sorted(
        (int(r["cid"]), int(r["dim"]), int(r["n"]), int(r["coord_sum_q"]))
        for r in kmeans_two_steps_exact(emb, cents).collect()
    )
    assert got == want

    # empty-cell keep: the never-attracting opposite-direction seed
    # comes back in the trained list EXACTLY as it went in.
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.9, 0.2]), (2, [0.1, 1.0]), (3, [0.2, 0.8])],
        "vec_id long, embedding array<double>",
    )
    geo = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (99, [-1.0, -1.0])]
    trained = dict(kmeans_train_centroids(tiny, geo, n_iter=2))
    assert trained[99] == [-1.0, -1.0]
    assert set(trained) == {0, 1, 99}


def test_kmeans_two_steps_rejects_mismatched_centroid_dims(spark):
    """A centroid vector whose length differs from the data
    dimensionality fails with a clear contract error at the update
    step — not a bare KeyError (too long) or a silently truncated
    new centroid (too short)."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.similarity import kmeans_two_steps_exact

    tiny = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.1, 1.0])],
        "vec_id long, embedding array<double>",
    )
    for bad in ([1.0, 0.0, 0.0], [1.0]):
        with _pytest.raises(ValueError, match="dims"):
            kmeans_two_steps_exact(tiny, [(0, bad)]).collect()


def test_nb_train_bits_vs_bruteforce_and_separable_task(spark):
    """Weights equal the Python bit-length contingency reference over
    hashed features; a planted marker-token task is fully separated by
    the trained weights served through hashed_feature_score; label and
    n_features contracts are loud."""
    from collections import Counter

    import pytest as _pytest

    from usgs_lidar_spark.operators.textquality import (
        _FEAT_MOD,
        hashed_feature_score,
        nb_train_bits,
    )
    from pyspark.sql import functions as F

    rows = [
        (i, ("zzq alpha beta" if i % 3 == 0 else "alpha beta gamma delta"),
         1 if i % 3 == 0 else -1)
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y long")

    def feat(w: str) -> int:
        acc = 0
        for ch in w:
            acc = (acc * 31 + ord(ch)) % _FEAT_MOD
        return acc % 32

    a: Counter = Counter()
    b: Counter = Counter()
    for _i, t, y in rows:
        for w in t.lower().split():
            (a if y == 1 else b)[feat(w)] += 1
    ta, tb = sum(a.values()), sum(b.values())

    def bits(x: int) -> int:
        return x.bit_length() - 1

    got = {
        r["feature_id"]: r["weight"]
        for r in nb_train_bits(docs, "y", n_features=32).collect()
    }
    assert len(got) == 32
    for f in range(32):
        if a[f] == 0 and b[f] == 0:
            assert got[f] == 0
            continue
        want = (
            bits(a[f] + 1) + bits(tb - b[f] + 1)
            - bits(b[f] + 1) - bits(ta - a[f] + 1)
        )
        assert got[f] == want, f

    w = nb_train_bits(docs, "y", n_features=32)
    sc = hashed_feature_score(docs, w, n_features=32)
    acc = (
        sc.join(docs.select("doc_id", "y"), "doc_id")
        .select(
            (
                F.when(F.col("score") > 0, 1).otherwise(-1) == F.col("y")
            ).cast("int").alias("ok")
        )
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc == 1.0
    with _pytest.raises(ValueError, match="n_features"):
        nb_train_bits(docs, "y", n_features=0)


def test_simhash_portable_vs_bruteforce_and_locality(spark):
    """Fingerprints match the Python Lehmer-parity reference exactly;
    near-identical documents land at small Hamming distance while
    unrelated ones do not (the locality property SimHash exists for);
    empty docs fingerprint to 0; n_bits contract is loud."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.dedup import simhash_portable
    from usgs_lidar_spark.operators.pipeline import _LEHMER_A, _LEHMER_M
    from usgs_lidar_spark.operators.textquality import _FEAT_MOD

    # locality is asymptotic in document length (each bit is a
    # majority over token slots; short docs sit at ±1 margins that any
    # single edit flips), so the fixture uses 60-token documents with
    # a 3-token edit vs a fully disjoint vocabulary.
    base = [f"w{i}" for i in range(60)]
    near = base[:57] + ["x1", "x2", "x3"]
    far = [f"v{i}" for i in range(60)]
    texts = {
        0: " ".join(base),
        1: " ".join(near),
        2: " ".join(far),
        3: "",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )

    def ph(w: str) -> int:
        a = 0
        for ch in w:
            a = (a * 31 + ord(ch)) % _FEAT_MOD
        return a

    def lh(x: int) -> int:
        v = ((x + 1) % _LEHMER_M + _LEHMER_M) % _LEHMER_M
        for _ in range(2):
            v = (v * _LEHMER_A) % _LEHMER_M
        return v

    def sh(t: str, nb: int = 32) -> int:
        s = [0] * nb
        for w in t.lower().split():
            h = ph(w)
            for j in range(nb):
                s[j] += 1 if lh(h * 67 + j) % 2 == 1 else -1
        return sum((1 << j) for j in range(nb) if s[j] > 0)

    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_portable(docs, n_bits=32).collect()
    }
    assert got == {d: sh(t) for d, t in texts.items()}

    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(got[0], got[1]) < ham(got[0], got[2])
    assert got[3] == 0
    with _pytest.raises(ValueError, match="n_bits"):
        simhash_portable(docs, n_bits=63)


def test_simhash_portable_pairs_blocked_equals_bruteforce(spark):
    """The pigeonhole-blocked detector finds EXACTLY the all-pairs
    Hamming<=k set over portable fingerprints (losslessness of the
    blocking at max_hamming < n_blocks), and the guard is loud."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.dedup import (
        simhash_portable,
        simhash_portable_near_dup_pairs,
    )

    base = [f"w{i}" for i in range(40)]
    rows = [
        (0, " ".join(base)),
        (1, " ".join(base[:38] + ["x1", "x2"])),
        (2, " ".join(f"v{i}" for i in range(40))),
        (3, " ".join(base)),  # exact dup of 0
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_portable(docs, n_bits=32).collect()
    }
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_portable_near_dup_pairs(
            docs, n_bits=32, max_hamming=3, n_blocks=4
        ).collect()
    }
    assert got == want
    assert (0, 3) in got and got[(0, 3)] == 0  # exact dup found
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_portable_near_dup_pairs(docs, max_hamming=4, n_blocks=4)


def test_gram_store_incremental_equals_direct(spark, tmp_path):
    """Append-only Gram store: build from one slice, append the rest —
    the aggregated store equals the direct one-shot reduction exactly
    (Gram/moment rows are additive integers), and PCA served from the
    store matches in-memory PCA bit-for-bit."""
    import numpy as np

    from usgs_lidar_spark.operators.linalg import (
        append_to_gram_store,
        embed_gram_quantized,
        pca_components,
        pca_components_from_store,
        read_gram_store,
        write_gram_store,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "gram")
    write_gram_store(emb.filter("vec_id < 300"), path)
    append_to_gram_store(emb.filter("vec_id >= 300"), path)

    store = {
        (r["i"], r["j"]): r["g"]
        for r in read_gram_store(spark, path).collect()
    }
    direct = {
        (r["i"], r["j"]): r["g"]
        for r in embed_gram_quantized(emb).collect()
    }
    assert {k: v for k, v in store.items() if k[0] >= 1 and k[1] >= 1} == direct
    assert store[(0, 0)] == emb.count()
    assert np.allclose(
        np.array(pca_components_from_store(spark, path, k=4)),
        np.array(pca_components(emb, k=4)),
        atol=1e-12,
    )


def test_pipe_end_to_end_v5_stage_consistency(spark):
    """The chained pipeline's report is internally consistent: per
    language, survivors never exceed inputs, reassembled docs never
    exceed survivors, and dedup never grows the token count."""
    from usgs_lidar_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    from pyspark.sql import functions as F

    n_in = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    toks_in = {
        r["lang"]: r["t"]
        for r in docs.groupBy("lang")
        .agg(
            F.sum(
                F.when(
                    F.length(F.trim("text")) > 0,
                    F.size(F.split(F.trim("text"), r"\s+")),
                ).otherwise(F.lit(0))
            ).alias("t")
        )
        .collect()
    }
    got = QUERIES["pipe_end_to_end_v5"](spark, sf).collect()
    assert got, "report must not be empty"
    for r in got:
        lang = r["lang"]
        assert 0 < r["n_after_lm"] <= n_in[lang]
        assert 0 <= r["n_with_text"] <= r["n_after_lm"]
        assert 0 <= r["tokens_after_dedup"] <= toks_in[lang]


def test_poisson_bootstrap_grouped_consistent_with_global(spark):
    """Grouped replicates are the global resample sliced by group: for
    every replicate, per-group n_eff/value_sum sum to the global
    bootstrap's row (group membership does not perturb any row's
    draw), and NULL groups pass through as their own group."""
    from usgs_lidar_spark.operators.stats import (
        poisson_bootstrap,
        poisson_bootstrap_grouped,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "n_chars")
    from pyspark.sql import functions as F

    docs = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 50 == 0, None).otherwise(F.col("lang"))
    )
    g = poisson_bootstrap_grouped(
        docs, "lang", "n_chars", "doc_id", n_replicates=8
    ).collect()
    tot = {
        r["replicate"]: (r["n_eff"], r["value_sum"])
        for r in poisson_bootstrap(
            docs, "n_chars", "doc_id", n_replicates=8
        ).collect()
    }
    from collections import defaultdict

    acc = defaultdict(lambda: [0, 0])
    groups = set()
    for r in g:
        groups.add(r["group"])
        acc[r["replicate"]][0] += r["n_eff"]
        acc[r["replicate"]][1] += r["value_sum"]
    assert {b: tuple(v) for b, v in acc.items()} == tot
    assert None in groups  # NULL group kept, not dropped


def test_semantic_contamination_flags_and_cell_blocking(spark):
    """Semantic decontamination contract: a corpus row near (rounded
    cosine >= threshold) ANY same-cell benchmark vector is flagged with
    its hit count; rows merely sharing a cell stay clean; and — the
    documented blocking tradeoff inherited from SemDeDup — a benchmark
    near-dup assigned to a DIFFERENT cell is missed. Broadcast and
    shuffle-join forms must agree (the physical strategy is a knob,
    never semantics), as must any input partitioning."""
    from usgs_lidar_spark.operators.similarity import semantic_contamination

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),      # hit twice (scaled benches)
            (1, [0.8, 0.6, 0.0, 0.0]),      # same cell as 0, cos 0.8: clean
            (2, [0.0, 1.0, 0.0, 0.0]),      # hit once in the y-cell
            # near-dup of a bench vector (cos 0.9992) that assigns to
            # the OTHER cell — the cross-cell miss the contract documents.
            (3, [0.50, 0.42, 0.32, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [
            ([2.0, 0.0, 0.0, 0.0],),        # scaled re-encode of corpus 0
            ([3.0, 0.0, 0.0, 0.0],),        # second re-encode of corpus 0
            ([0.0, 0.9, 0.0, 0.0],),        # scaled re-encode of corpus 2
            ([0.52, 0.3989, 0.32, 0.0],),   # near corpus 3, lands in cell 0
        ],
        "embedding array<float>",
    )
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.5, 0.0])]
    got = {
        r["vec_id"]: (r["cid"], r["n_hits"], r["contaminated"])
        for r in semantic_contamination(
            corpus, bench, cents, threshold=0.99
        ).collect()
    }
    assert got[0] == (0, 2, True)
    assert got[1] == (0, 0, False)
    assert got[2] == (3, 1, True)
    # cross-cell bench neighbor: above threshold, different cell, missed.
    assert got[3] == (3, 0, False)
    for kwargs in ({"broadcast_bench": False}, {}):
        got2 = {
            r["vec_id"]: (r["cid"], r["n_hits"], r["contaminated"])
            for r in semantic_contamination(
                corpus.repartition(7), bench.repartition(3), cents,
                threshold=0.99, **kwargs
            ).collect()
        }
        assert got2 == got


def test_collapse_clusters_keep_best_argmax_keeper(spark):
    """Quality-aware cluster collapse: keeper = argmax(score) per
    connected component with ties broken to the MIN id (never max —
    the determinism rule every keeper in this engine follows);
    singletons keep themselves; cluster_size counts all members.
    Partitioning must not perturb any of it."""
    from usgs_lidar_spark.operators.graph import collapse_clusters_keep_best

    docs = spark.createDataFrame(
        [
            # cluster {0,1,2}: 1 has the best score -> keeper, NOT min id 0
            (0, 10), (1, 99), (2, 50),
            # cluster {3,4}: tied scores -> min id 3 keeps
            (3, 7), (4, 7),
            # singleton
            (5, 1),
        ],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["keeper_id"],
                      r["is_kept"])
        for r in collapse_clusters_keep_best(
            docs, pairs, score_col="score"
        ).collect()
    }
    assert got[0] == (0, 3, 1, False)
    assert got[1] == (0, 3, 1, True)     # best score wins over min id
    assert got[2] == (0, 3, 1, False)
    assert got[3] == (3, 2, 3, True)     # tie -> min id
    assert got[4] == (3, 2, 3, False)
    assert got[5] == (5, 1, 5, True)     # singleton keeps itself
    got2 = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["keeper_id"],
                      r["is_kept"])
        for r in collapse_clusters_keep_best(
            docs.repartition(5), pairs.repartition(3), score_col="score"
        ).collect()
    }
    assert got2 == got


def test_semantic_contamination_batchwise_equals_oneshot(spark):
    """The docstring's incremental claim, pinned: flags are per-corpus-row
    against a fixed benchmark, so draining the corpus in batches through
    the same operator and unioning the outputs IS the one-shot answer —
    no history ever re-scores."""
    from usgs_lidar_spark.operators.similarity import semantic_contamination

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.8, 0.6, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.50, 0.42, 0.32, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [([2.0, 0.0, 0.0, 0.0],), ([0.0, 0.9, 0.0, 0.0],)],
        "embedding array<float>",
    )
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.5, 0.0])]

    def rows(df):
        return {
            r["vec_id"]: (r["cid"], r["n_hits"], r["contaminated"])
            for r in df.collect()
        }

    oneshot = rows(semantic_contamination(corpus, bench, cents))
    batched = {}
    for lo, hi in ((0, 2), (2, 4)):
        batch = corpus.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        )
        batched.update(rows(semantic_contamination(batch, bench, cents)))
    assert batched == oneshot


def test_semantic_contamination_hot_pack_guard_parity(spark):
    """Hot-pack guard contract: on a benchmark whose hot-cell vectors are
    SIGN-DIVERSE only away from each true leak (scaled copies share all
    signs), the guarded answer equals the exact one — every true hit
    meets its source at Hamming 0 while the sub-packing prunes pair
    work. A small cell stays on the exact per-cell pack. Deterministic
    fixture: one hot cell (x-axis) holding 24 bench vectors with mixed
    leading signs, cap 8."""
    import random

    from usgs_lidar_spark.operators.similarity import semantic_contamination

    rng = random.Random(13)
    corpus_rows, bench_rows = [], []
    # 12 corpus rows in the x-cell with diverse sign patterns on the
    # first 8 dims; each contributes a x1.25 bench copy (a true leak)
    # plus one noise bench vector with an independent sign pattern.
    for i in range(12):
        lead = [rng.choice([-0.5, 0.5]) for _ in range(8)]
        v = lead + [4.0, 0.0]          # strong +x tail: lands in cell 0
        corpus_rows.append((i, [float(x) for x in v]))
        bench_rows.append(([float(x * 1.25) for x in v],))
        noise = [rng.choice([-0.5, 0.5]) for _ in range(8)] + [4.0, 0.0]
        bench_rows.append(([float(x) for x in noise],))
    # one corpus row + its leak in the y-cell (stays under the cap:
    # exact per-cell pack, key -1 on both sides).
    corpus_rows.append((100, [0.1] * 8 + [0.0, 4.0]))
    bench_rows.append(([0.125] * 8 + [0.0, 5.0],))
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>"
    )
    bench = spark.createDataFrame(bench_rows, "embedding array<float>")
    cents = [
        (0, [0.0] * 8 + [1.0, 0.0]),
        (1, [0.0] * 8 + [0.0, 1.0]),
    ]

    def rows(**kw):
        return {
            r["vec_id"]: (r["cid"], r["n_hits"], r["contaminated"])
            for r in semantic_contamination(
                corpus, bench, cents, threshold=0.99, **kw
            ).collect()
        }

    exact = rows()
    guarded = rows(max_pack_size=8, sub_bits=8)
    assert guarded == exact
    # Every corpus row's leak was found in both forms.
    assert all(v[2] for v in exact.values())
    # Partitioning invariance under the guard.
    guarded2 = {
        r["vec_id"]: (r["cid"], r["n_hits"], r["contaminated"])
        for r in semantic_contamination(
            corpus.repartition(7), bench.repartition(5), cents,
            threshold=0.99, max_pack_size=8, sub_bits=8,
        ).collect()
    }
    assert guarded2 == exact


def test_semantic_contamination_accepts_dataframe_quantizer(spark):
    """semantic_contamination inherits ivf_assign's DataFrame-quantizer
    dispatch (the past-the-broadcast-ceiling form, n_probe_coarse=1 —
    the IMI approximation, so cell ASSIGNMENTS may differ from the flat
    list and exact flag equality is not the contract). What IS the
    contract (the semdedup DataFrame-quantizer precedent): a true leak
    has identical rounded cosines to every centroid as its source,
    hence identical coarse probes and identical final cell — so every
    re-encoded benchmark entry still flags its source under ANY
    quantizer form."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import semantic_contamination

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    bench = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.transform(
            "embedding", lambda x: (x * F.lit(1.25)).cast("float")
        ).alias("embedding")
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 24).collect()
    ]
    cdf = emb.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    flat = {
        r["vec_id"]: r["contaminated"]
        for r in semantic_contamination(emb, bench, cents).collect()
    }
    framed = {
        r["vec_id"]: r["contaminated"]
        for r in semantic_contamination(emb, bench, cdf).collect()
    }
    # same audit surface (one row per corpus vector) in both forms
    assert set(framed) == set(flat)
    # every 7th vector's re-encode flags its source in BOTH forms —
    # leak detection survives the quantizer-form switch.
    assert all(flat[v] for v in flat if v % 7 == 0)
    assert all(framed[v] for v in framed if v % 7 == 0)


def test_viterbi_min_pieces_beats_greedy_and_handles_fallback(spark):
    """Optimality contract: on 'aabab' with vocab {aab, aa, bab} the
    greedy longest-match-from-left tokenization spends 3 pieces
    (aab|a|b) while the optimal split is 2 (aa|bab) — the DP must find
    2. Whole-text pieces, pure-fallback texts, and unmatched docs all
    take their exact minima; partitioning must not perturb anything."""
    from usgs_lidar_spark.operators.textquality import viterbi_min_pieces

    docs = spark.createDataFrame(
        [(1, "aabab"), (2, "zzzz"), (3, "qqq"), (4, "x")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("aab",), ("aa",), ("bab",), ("zzzz",), ("zz",)], "piece string"
    )
    got = {
        r["doc_id"]: (r["n_chars"], r["n_pieces"])
        for r in viterbi_min_pieces(docs, vocab).collect()
    }
    assert got[1] == (5, 2)   # aa|bab — greedy would take 3
    assert got[2] == (4, 1)   # whole-text piece beats zz|zz
    assert got[3] == (3, 3)   # no match: pure single-char fallback
    assert got[4] == (1, 1)
    got2 = {
        r["doc_id"]: (r["n_chars"], r["n_pieces"])
        for r in viterbi_min_pieces(
            docs.repartition(3), vocab.repartition(2)
        ).collect()
    }
    assert got2 == got


def test_round14_advice_guards(spark):
    """The three r13 ADVICE items, pinned: (1) derive_coarse_quantizer
    returns a cid-SORTED list (the docstring's determinism covers the
    list itself, not just the order-independent argmax downstream);
    (2) viterbi_min_pieces rejects documents over max_chars loudly
    instead of launching the quadratic fold; (3)
    collapse_clusters_keep_best rejects a string id column up front
    (the (score, -id) struct-max tie-break silently assumes signed
    numeric ids)."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.graph import collapse_clusters_keep_best
    from usgs_lidar_spark.operators.similarity import derive_coarse_quantizer
    from usgs_lidar_spark.operators.textquality import viterbi_min_pieces

    cents = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(9)],
        "cid long, cvec array<double>",
    ).repartition(4)
    for _ in range(3):
        coarse = derive_coarse_quantizer(cents)
        assert [c for c, _v in coarse] == sorted(c for c, _v in coarse)

    docs = spark.createDataFrame(
        [(1, "ab" * 40)], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([("ab",)], "piece string")
    # round 15 (ADVICE r14): the bound is a LAZY per-row guard riding
    # the scan — plan construction stays cheap (no eager max agg), the
    # job fails at execution with the offending id/length in the text.
    over = viterbi_min_pieces(docs, vocab, max_chars=10)  # no error yet
    with _pytest.raises(Exception, match="max_chars=10"):
        over.collect()
    ok = viterbi_min_pieces(docs, vocab, max_chars=80).collect()
    assert ok[0]["n_pieces"] == 40

    sdocs = spark.createDataFrame(
        [("a", 1), ("b", 2)], "doc_id string, score long"
    )
    spairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    with _pytest.raises(TypeError, match="signed numeric"):
        collapse_clusters_keep_best(sdocs, spairs, score_col="score")


def test_fake_dhash_bands_and_known_values(spark):
    """The deterministic dHash tier, pinned by hand: a payload of
    exactly 72 strictly-increasing bytes samples itself (k*72//72 = k),
    so every adjacent comparison within a row is 'smaller > larger' =
    False EXCEPT none — all bands 0 for ascending bytes; a strictly
    DEscending payload sets every comparison bit -> all bands 0xFFFF.
    Empty payloads hash to all-zero bands. Partitioning must not
    perturb the hash."""
    from usgs_lidar_spark.multimodal import fake_dhash_image

    asc = bytes(range(72))
    desc = bytes(range(100, 28, -1))
    media = spark.createDataFrame(
        [(1, asc), (2, desc), (3, b"")],
        "media_id long, content binary",
    )
    got = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in fake_dhash_image(media).collect()
    }
    assert got[1] == (0, 0, 0, 0)
    assert got[2] == (0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF)
    assert got[3] == (0, 0, 0, 0)
    got2 = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in fake_dhash_image(media.repartition(3)).collect()
    }
    assert got2 == got


def test_near_dup_dhash_banding_lossless(spark):
    """The pigeonhole claim, pinned against brute force: at
    max_hamming <= 3 the four-band blocking finds EVERY pair a full
    all-pairs Hamming scan finds (3 differing bits cannot touch all 4
    bands), on a synthetic hash population dense enough to exercise
    same-band collisions, multi-band agreements, and far pairs. Also:
    the radius guard rejects max_hamming >= 8."""
    import itertools
    import pytest as _pytest

    from usgs_lidar_spark.multimodal import near_dup_media_by_dhash

    # deterministic pseudo-random 16-bit bands + planted near-dups
    rows = []
    for i in range(40):
        b = [(i * 7919 + q * 104729) % 65536 for q in range(4)]
        rows.append((i, *b))
    for i in range(40, 60):
        src = rows[i - 40]
        b = list(src[1:])
        b[i % 4] ^= 1 << (i % 16)           # 1 bit off a base row
        if i % 3 == 0:
            b[(i + 1) % 4] ^= 1 << ((i + 5) % 16)  # sometimes 2 bits
        rows.append((i, *b))
    hashes = spark.createDataFrame(
        rows, "media_id long, b0 long, b1 long, b2 long, b3 long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in near_dup_media_by_dhash(hashes, max_hamming=3).collect()
    }
    want = {}
    for (ia, *ba), (ib, *bb) in itertools.combinations(rows, 2):
        h = sum(bin(x ^ y).count("1") for x, y in zip(ba, bb))
        if h <= 3:
            want[(min(ia, ib), max(ia, ib))] = h
    assert got == want and len(want) >= 20
    with _pytest.raises(ValueError, match="max_hamming"):
        near_dup_media_by_dhash(hashes, max_hamming=8)


def test_dhash_image_pil_gated(spark):
    """Real-pixel dHash via PIL where available: a re-encoded and a
    uniformly brightened copy of a gradient image stay within Hamming
    3 of the original (difference hashing is invariant to monotone
    brightness maps), while a reversed-gradient image lands far away.
    Skipped (with the fake-tier twin above always running) when the
    container ships no imaging library."""
    import pytest as _pytest

    from usgs_lidar_spark.multimodal import (
        dhash_image,
        have_pil,
        near_dup_media_by_dhash,
    )

    if not have_pil():
        with _pytest.raises(NotImplementedError, match="PIL"):
            dhash_image(
                spark.createDataFrame(
                    [(1, b"x")], "media_id long, content binary"
                )
            )
        _pytest.skip("PIL not available; gated-raise contract asserted")

    import io

    from PIL import Image

    def png(pixels, size=(36, 32)) -> bytes:
        im = Image.new("L", size)
        im.putdata(pixels)
        out = io.BytesIO()
        im.save(out, format="PNG")
        return out.getvalue()

    w, h = 36, 32
    grad = [(x * 255) // w for y in range(h) for x in range(w)]
    bright = [min(255, p + 40) for p in grad]
    rev = list(reversed(grad))
    media = spark.createDataFrame(
        [(1, png(grad)), (2, png(bright)), (3, png(rev)), (4, png(grad))],
        "media_id long, content binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in near_dup_media_by_dhash(
            dhash_image(media), max_hamming=3
        ).collect()
    }
    assert pairs[(1, 4)] == 0          # identical re-encode
    assert (1, 2) in pairs             # brightness shift: near-dup
    assert not any(3 in p for p in pairs)   # reversed gradient: far


def test_trained_coarse_probe_all_matches_flat_and_is_deterministic(spark):
    """The trained coarse split (r13 verdict item 3): Lloyd-refined
    coarse centroids over the fine-quantizer frame keep the pinned
    probe-ALL contract — bit-identical to flat ivf_assign, including
    __csim, under repartitioning — because the split only decides which
    pack owns each fine centroid, never the argmax arithmetic. The
    trained list itself must be deterministic across invocations and
    input partitionings, and an unknown method must raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        derive_coarse_quantizer,
        ivf_assign,
        ivf_assign_two_level,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 24).collect()
    ]
    cdf = spark.createDataFrame(cents, "cid long, cvec array<double>")
    trained = derive_coarse_quantizer(cdf, method="trained")
    assert trained == derive_coarse_quantizer(
        cdf.repartition(5), method="trained"
    )
    stride = derive_coarse_quantizer(cdf)
    assert len(trained) == len(stride)
    # training moved at least one coarse centroid off its stride seed
    assert trained != stride
    flat = sorted(
        (r["vec_id"], r["__cid"], r["__csim"])
        for r in ivf_assign(emb, cents, keep_sim=True).collect()
    )
    tl = sorted(
        (r["vec_id"], r["__cid"], r["__csim"])
        for r in ivf_assign_two_level(
            emb, cdf, coarse=trained, n_probe_coarse=len(trained),
            keep_sim=True,
        ).collect()
    )
    assert tl == flat
    with _pytest.raises(ValueError, match="stride.*trained"):
        derive_coarse_quantizer(cdf, method="kmeans++")


def test_viterbi_min_cost_weighted_optimum(spark):
    """Weighted DP contract: on 'aabab' with costs {aab:1, aa:10,
    bab:10} and fallback 2, the weighted optimum is aab|a|b = 5 — a
    DIFFERENT segmentation than the unit-cost optimum aa|bab (2
    pieces, weighted cost 20), so weights demonstrably steer the DP.
    With all costs 1 and fallback 1 the function degenerates exactly
    to viterbi_min_pieces' optimum. Partitioning must not perturb
    either."""
    from pyspark.sql import functions as F

    from usgs_lidar_spark.operators.textquality import (
        viterbi_min_cost,
        viterbi_min_pieces,
    )

    docs = spark.createDataFrame(
        [(1, "aabab"), (2, "zz"), (3, "q")], "doc_id long, text string"
    )
    vocab = spark.createDataFrame(
        [("aab", 1), ("aa", 10), ("bab", 10), ("zz", 3)],
        "piece string, cost long",
    )
    got = {
        r["doc_id"]: r["total_cost"]
        for r in viterbi_min_cost(docs, vocab, fallback_cost=2).collect()
    }
    assert got[1] == 5      # aab(1) + a(2) + b(2), beats aa|bab = 20
    assert got[2] == 3      # zz piece(3) < z|z fallback(4)
    assert got[3] == 2      # pure fallback
    got2 = {
        r["doc_id"]: r["total_cost"]
        for r in viterbi_min_cost(
            docs.repartition(3), vocab.repartition(2), fallback_cost=2
        ).collect()
    }
    assert got2 == got

    unit_vocab = vocab.select("piece", F.lit(1).alias("cost"))
    unit = {
        r["doc_id"]: r["total_cost"]
        for r in viterbi_min_cost(
            docs, unit_vocab, fallback_cost=1
        ).collect()
    }
    pieces = {
        r["doc_id"]: r["n_pieces"]
        for r in viterbi_min_pieces(docs, vocab.select("piece")).collect()
    }
    assert unit == pieces


def test_near_dup_dhash_combo_lossless_and_guards(spark):
    """The band-combination join (8 bands / combo 2): at radius <= 6 it
    finds EVERY pair a brute-force 128-bit Hamming scan finds
    (pigeonhole: 6 differing bits leave >= 2 intact bands => >= 1
    intact combination), on a population with planted 1-6-bit
    perturbations and pseudo-random far pairs, and the radius/combo
    guards must fail loudly."""
    import itertools
    import pytest as _pytest

    from usgs_lidar_spark.multimodal import near_dup_media_by_dhash_combo

    rows = []
    for i in range(30):
        rows.append(
            (i, *[(i * 7919 + q * 104729) % 65536 for q in range(8)])
        )
    for i in range(30, 55):
        b = list(rows[i - 30][1:])
        for f in range(1 + i % 6):           # 1..6 bit flips
            b[(i + f) % 8] ^= 1 << ((i * 3 + f) % 16)
        rows.append((i, *b))
    schema = "media_id long, " + ", ".join(f"b{q} long" for q in range(8))
    hashes = spark.createDataFrame(rows, schema)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in near_dup_media_by_dhash_combo(
            hashes, max_hamming=6, n_bands=8, combo=2
        ).collect()
    }
    want = {}
    for (ia, *ba), (ib, *bb) in itertools.combinations(rows, 2):
        h = sum(bin(x ^ y).count("1") for x, y in zip(ba, bb))
        if h <= 6:
            want[(min(ia, ib), max(ia, ib))] = h
    assert got == want and len(want) >= 15
    with _pytest.raises(ValueError, match="max_hamming"):
        near_dup_media_by_dhash_combo(hashes, max_hamming=7, n_bands=8,
                                      combo=2)
    with _pytest.raises(ValueError, match="combo"):
        near_dup_media_by_dhash_combo(hashes, max_hamming=2, n_bands=8,
                                      combo=8)


def test_audio_energy_fingerprint_contract(spark):
    """The audio near-dup fingerprint: (1) a one-sample edit flips at
    most 2 comparison bits (each block is contiguous, only its two
    boundary comparisons can change), so the edited copy pairs with
    its original at radius 3; (2) payloads under 65 samples emit NULL
    bands and NEVER pair — singletons, not a degenerate cluster; (3)
    deterministic under repartitioning."""
    from usgs_lidar_spark.multimodal import (
        audio_energy_fingerprint,
        near_dup_media_by_dhash,
    )

    loud = bytes((128 + ((i * 37) % 90) - 45) % 256 for i in range(400))
    edited = loud[:200] + bytes([loud[200] ^ 0x55]) + loud[201:]
    other = bytes((128 + ((i * 53 + 7) % 90) - 45) % 256
                  for i in range(400))
    media = spark.createDataFrame(
        [(1, loud), (2, edited), (3, other), (4, b"tiny"), (5, b"tiny")],
        "media_id long, content binary",
    )
    fps = audio_energy_fingerprint(media)
    rows = {r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
            for r in fps.collect()}
    assert rows[4] == (None, None, None, None)
    assert rows[5] == (None, None, None, None)
    ham12 = sum(
        bin(a ^ b).count("1") for a, b in zip(rows[1], rows[2])
    )
    # one edit moves one block's energy: at most the block's 2 boundary
    # comparisons can flip (0 when the energy ORDER is preserved)
    assert ham12 <= 2
    pairs = {
        (r["id_a"], r["id_b"])
        for r in near_dup_media_by_dhash(fps, max_hamming=3).collect()
    }
    assert (1, 2) in pairs
    # identical too-short payloads must NOT pair (NULL bands match
    # nothing), and nothing pairs with the unrelated profile
    assert (4, 5) not in pairs
    assert not any(3 in p or 4 in p or 5 in p for p in pairs)
    rows2 = {r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
             for r in audio_energy_fingerprint(media.repartition(4)).collect()}
    assert rows2 == rows


def test_near_dup_video_by_frames_contract(spark):
    """Frame-set containment near-dup: a trimmed copy (first frame
    dropped) pairs at containment 1.0 where Jaccard would dilute it; a
    video sharing half its frames does NOT pass 0.9; the df cap drops
    a stop-frame shared by everything BEFORE pairing (so unrelated
    videos sharing only the stop-frame never pair); payloads under one
    frame have no digests and never pair. Deterministic under
    repartitioning."""
    import pytest as _pytest

    from usgs_lidar_spark.multimodal import near_dup_video_by_frames

    f = lambda ch: bytes([ch]) * 8  # noqa: E731  8-byte frames
    stop = f(0)
    v1 = stop + f(1) + f(2) + f(3) + f(4)
    v1_trim = f(1) + f(2) + f(3) + f(4)          # minus frame 0
    v_half = stop + f(1) + f(2) + f(9) + f(8)    # shares 3 of 5 sigs
    v_other = stop + f(5) + f(6) + f(7)
    tiny = b"abc"
    media = spark.createDataFrame(
        [(1, v1), (2, v1_trim), (3, v_half), (4, v_other), (5, tiny)],
        "media_id long, content binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): (r["shared_frames"], r["containment"])
        for r in near_dup_video_by_frames(
            media, frame_size=8, min_containment=0.9, max_df=2
        ).collect()
    }
    # df cap at 2 drops stop (df 3) AND f1/f2 (df 3, shared with
    # v_half): v1 and v1_trim survive with {f3, f4} each -> shared 2,
    # containment 1.0; v1/v_half keep no common sigs at all.
    assert pairs == {(1, 2): (2, 1.0)}
    # without the cap the stop-frame alone must STILL not pair
    # unrelated videos (1 shared / min 4 sigs = 0.25)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in near_dup_video_by_frames(
            media, frame_size=8, min_containment=0.9
        ).collect()
    }
    assert uncapped == {(1, 2)}
    again = {
        (r["id_a"], r["id_b"]): (r["shared_frames"], r["containment"])
        for r in near_dup_video_by_frames(
            media.repartition(4), frame_size=8, min_containment=0.9,
            max_df=2,
        ).collect()
    }
    assert again == pairs
    with _pytest.raises(ValueError, match="min_containment"):
        near_dup_video_by_frames(media, frame_size=8, min_containment=0.0)


def test_semantic_verify_pairs_rejects_dhash_collisions(spark):
    """Two-tier media dedup (round 15): `semantic_verify_pairs` must
    keep a perceptual candidate pair only when BOTH endpoints carry an
    embedding and the rounded cosine clears the threshold — a
    dHash-close but semantically-distinct pair is rejected (the
    false-merge the verify tier exists for), and a pair with a missing
    embedding drops (strict verify: no evidence, no merge)."""
    from usgs_lidar_spark.multimodal import semantic_verify_pairs

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a bigint, id_b bigint"
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),   # same subject: cos ~ 1
            (3, [0.0, 1.0, 0.0]),      # dHash collision, orthogonal
            # id 4: no embedding row at all
        ],
        "media_id bigint, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in semantic_verify_pairs(
            pairs, emb, threshold=0.9, id_col="media_id"
        ).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] >= 0.999
    # zero-norm guard: a zero vector scores 0.0, never NaN/err
    emb0 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "media_id bigint, embedding array<double>",
    )
    out = semantic_verify_pairs(
        spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint"),
        emb0, threshold=0.0, id_col="media_id",
    ).collect()
    assert [r["cos_sim"] for r in out] == [0.0]


def test_kmeanspp_seeding_deterministic_and_probe_all_exact(spark):
    """Round-15 k-means++-style coarse seeding: the deterministic
    farthest-point seed list must (a) be reproducible across calls and
    input partitionings, (b) contain n distinct cids starting from the
    min cid, (c) actually spread — on a two-clump fixture the second
    seed must come from the OTHER clump, where cid-stride picks by id
    order and lands in the first clump — and (d) keep the pinned
    probe-ALL contract: two-level assignment over kmeanspp-seeded
    coarse == flat ivf_assign bit-for-bit. Unknown seeding raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from usgs_lidar_spark.catalog import load_table
    from usgs_lidar_spark.operators.similarity import (
        derive_coarse_quantizer,
        ivf_assign,
        ivf_assign_two_level,
        kmeanspp_seed_centroids,
    )

    # (c) spread: cids 0..3 in clump A (near +e1), cid 4 alone at -e1.
    # Farthest-point's 2nd seed must be cid 4; stride-of-2 picks cid 2.
    clumps = spark.createDataFrame(
        [
            (0, [1.0, 0.01]), (1, [1.0, 0.02]), (2, [1.0, 0.03]),
            (3, [1.0, 0.04]), (4, [-1.0, 0.0]),
        ],
        "cid long, cvec array<double>",
    )
    pp = kmeanspp_seed_centroids(clumps, 2)
    assert [cid for cid, _ in pp] == [0, 4]
    st = derive_coarse_quantizer(clumps, n_coarse=2, seeding="stride")
    assert [cid for cid, _ in st] == [0, 3]  # ceil(5/2)=3 stride by cid

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 24).collect()
    ]
    cdf = spark.createDataFrame(cents, "cid long, cvec array<double>")
    # (a) determinism across calls and partitionings
    pp1 = derive_coarse_quantizer(cdf, seeding="kmeanspp")
    pp2 = derive_coarse_quantizer(cdf.repartition(5), seeding="kmeanspp")
    assert pp1 == pp2
    # (b) distinct cids, first = min cid, count = ceil(sqrt(24)) = 5
    cids = [cid for cid, _ in pp1]
    assert len(cids) == len(set(cids)) == 5 and cids[0] == 0
    # composes with Lloyd refinement deterministically
    ppt = derive_coarse_quantizer(
        cdf, method="trained", n_iter=1, seeding="kmeanspp"
    )
    assert ppt == derive_coarse_quantizer(
        cdf.repartition(3), method="trained", n_iter=1, seeding="kmeanspp"
    )
    # (d) probe-all == flat, bit-for-bit including __csim
    flat = sorted(
        (r["vec_id"], r["__cid"], r["__csim"])
        for r in ivf_assign(emb, cents, keep_sim=True).collect()
    )
    for coarse in (pp1, ppt):
        tl = sorted(
            (r["vec_id"], r["__cid"], r["__csim"])
            for r in ivf_assign_two_level(
                emb, cdf, coarse=coarse, n_probe_coarse=len(coarse),
                keep_sim=True,
            ).collect()
        )
        assert tl == flat
    with _pytest.raises(ValueError, match="seeding"):
        derive_coarse_quantizer(cdf, seeding="d2-sample")
    # (e) round 16 — batched tournament rounds (batch_m): byte-identical
    # to the sequential algorithm at m=1 and on the clump fixture (the
    # first pick per scan IS the global argmin), deterministic across
    # partitionings at m>1, same structure, and probe-all exactness is
    # seeding-independent so it holds for the batched coarse too.
    assert kmeanspp_seed_centroids(clumps, 2, batch_m=4) == pp
    pp_m3a = kmeanspp_seed_centroids(cdf, 5, batch_m=3)
    pp_m3b = kmeanspp_seed_centroids(cdf.repartition(5), 5, batch_m=3)
    assert pp_m3a == pp_m3b
    cids_m3 = [cid for cid, _ in pp_m3a]
    assert len(cids_m3) == len(set(cids_m3)) == 5 and cids_m3[0] == 0
    assert pp_m3a[1] == pp1[1]  # scan 1's first accept = global argmin
    batched = derive_coarse_quantizer(
        cdf, seeding="kmeanspp", seed_batch_m=3
    )
    tl = sorted(
        (r["vec_id"], r["__cid"], r["__csim"])
        for r in ivf_assign_two_level(
            emb, cdf, coarse=batched, n_probe_coarse=len(batched),
            keep_sim=True,
        ).collect()
    )
    assert tl == flat
    with _pytest.raises(ValueError, match="batch_m"):
        kmeanspp_seed_centroids(cdf, 5, batch_m=0)


def test_shard_payload_blobs_golden(spark):
    """The byte mover's layout, pinned byte-for-byte on a hand-computed
    fixture (round 16): items concatenate in byte_start order, a
    split_across item contributes its head to one shard and its tail
    to the next, every byte lands in exactly one shard, and the lazy
    over-budget guard raises on an assignment that lies."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from usgs_lidar_spark.multimodal import shard_payload_blobs

    # stream 7: AAAA (4) + BBBBBB (6) + CCCCCCC (7) packed at budget 5
    # -> shards: AAAAB | BBBBB | CCCCC | CC
    payloads = spark.createDataFrame(
        [(1, bytearray(b"AAAA")), (2, bytearray(b"BBBBBB")),
         (3, bytearray(b"CCCCCCC"))],
        "media_id bigint, content binary",
    )
    assignment = spark.createDataFrame(
        [(1, 7, 0, 4), (2, 7, 4, 6), (3, 7, 10, 7)],
        "media_id bigint, pack_stream bigint, byte_start bigint, "
        "n_bytes bigint",
    )
    got = {
        (r["pack_stream"], r["shard_id"]): (
            bytes(r["shard_bytes"]), r["n_items"], r["shard_n_bytes"]
        )
        for r in shard_payload_blobs(assignment, payloads, budget=5)
        .collect()
    }
    assert got == {
        (7, 0): (b"AAAAB", 2, 5),
        (7, 1): (b"BBBBB", 1, 5),
        (7, 2): (b"CCCCC", 1, 5),
        (7, 3): (b"CC", 1, 2),
    }
    # zero-byte items contribute nothing (and crash no sequence())
    with_empty = assignment.unionByName(
        spark.createDataFrame(
            [(4, 7, 10, 0)],
            "media_id bigint, pack_stream bigint, byte_start bigint, "
            "n_bytes bigint",
        )
    )
    empty_pay = payloads.unionByName(
        spark.createDataFrame(
            [(4, bytearray(b""))], "media_id bigint, content binary"
        )
    )
    got2 = {
        (r["pack_stream"], r["shard_id"]): bytes(r["shard_bytes"])
        for r in shard_payload_blobs(with_empty, empty_pay, budget=5)
        .collect()
    }
    assert got2 == {k: v[0] for k, v in got.items()}
    # an over-budget shard (overlapping byte_start claims) raises in
    # the executor, not silently truncates
    lying = spark.createDataFrame(
        [(1, 7, 0, 4), (2, 7, 1, 6)],
        "media_id bigint, pack_stream bigint, byte_start bigint, "
        "n_bytes bigint",
    )
    with _pytest.raises(Exception, match="shard over budget"):
        shard_payload_blobs(lying, payloads, budget=5).collect()
    with _pytest.raises(ValueError, match="budget must be positive"):
        shard_payload_blobs(assignment, payloads, budget=0)
    # an assigned item with a MISSING payload, or one whose bytes
    # disagree with the claimed n_bytes, is a loud error — silently
    # assembling a shard with a hole/shift in the middle is the
    # corruption no downstream check would see
    with _pytest.raises(Exception, match="payload mismatch"):
        shard_payload_blobs(
            assignment, payloads.filter("media_id != 2"), budget=5
        ).collect()
    short = payloads.withColumn(
        "content",
        F.when(F.col("media_id") == 2, F.lit(b"BB")).otherwise(
            F.col("content")
        ),
    )
    with _pytest.raises(Exception, match="payload mismatch"):
        shard_payload_blobs(assignment, short, budget=5).collect()
    # strict=False trusts referential completeness (the assignment
    # broadcast / single-payload-shuffle path): identical output on
    # complete inputs, and the SIZE guard still raises
    got3 = {
        (r["pack_stream"], r["shard_id"]): bytes(r["shard_bytes"])
        for r in shard_payload_blobs(
            assignment, payloads, budget=5, strict=False
        ).collect()
    }
    assert got3 == {k: v[0] for k, v in got.items()}
    with _pytest.raises(Exception, match="payload mismatch"):
        shard_payload_blobs(
            assignment, short, budget=5, strict=False
        ).collect()


def test_minhash_decon_pairs_flags_edited_copy(spark):
    """Cross-set fuzzy decon (round 16): an exact copy of a benchmark
    doc is flagged at J=1.0, a lightly-edited copy (3 chars changed ->
    3 of 36 distinct char-8 shingles differ, J=33/39) above threshold, an
    unrelated doc not at all — and corpus-corpus near-dup pairs never
    appear (the join is strictly corpus x benchmark)."""
    from usgs_lidar_spark.operators.dedup import minhash_decon_pairs

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content with nothing in common"),
        ],
        ["doc_id", "text"],
    )
    rows = minhash_decon_pairs(
        corpus, bench, "text", "doc_id", threshold=0.6
    ).collect()
    got = {(r["doc_id"], r["bench_id"]): r["jaccard"] for r in rows}
    assert set(got) == {(1, 100), (2, 100)}
    assert got[(1, 100)] == 1.0
    assert abs(got[(2, 100)] - 33.0 / 39.0) < 1e-12


def test_minhash_band_keys_match_expression_form(spark):
    """The band keys `minhash_decon_inline` computes — `_band_keys` over
    each document's `_doc_shingle_arrays` — reproduce Spark's xxhash64
    BIT FOR BIT, so (doc_id, band, h) built on the driver must equal
    the expression form `_minhash_band_long(char_shingles(max_df=None))`
    row for row — on the sf0.001 corpus (ASCII fast path) AND on a
    synthetic non-ASCII fixture (scalar xxh64 fallback), including
    short-doc and NULL-text edge rows."""
    import numpy as np

    from tests.conftest import SF_SMALL
    from usgs_lidar_spark.operators.dedup import (
        _minhash_band_long,
        char_shingles,
    )
    from usgs_lidar_spark.operators.minhash_kernel import (
        _band_keys,
        _doc_shingle_arrays,
    )

    def kernel_rows(df):
        ids, chunks, starts, n = [], [], [], 0
        for doc_id, text in df.select("doc_id", "text").collect():
            if text is None:
                continue
            _codes, bases = _doc_shingle_arrays(text, 8)
            if bases.size == 0:
                continue
            ids.append(doc_id)
            chunks.append(bases)
            starts.append(n)
            n += bases.size
        bk = _band_keys(
            np.concatenate(chunks), np.array(starts, dtype=np.int64), 64, 32
        )
        return sorted(
            (d, b, int(bk[j, b])) for j, d in enumerate(ids) for b in range(32)
        )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    fixtures = [
        docs,
        spark.createDataFrame(
            [
                (1, "héllo wörld — ein ziemlich ünïcode Dokument hier"),
                (2, "héllo wörld — ein ziemlich ünïcode Dokument hier!"),
                (3, "plain ascii body that is long enough to shingle"),
                (4, "short"),
                (5, None),
            ],
            ["doc_id", "text"],
        ),
    ]
    for df in fixtures:
        e = sorted(
            map(
                tuple,
                _minhash_band_long(
                    char_shingles(df, "text", "doc_id", 8, max_df=None), 64, 32
                ).collect(),
            )
        )
        a = kernel_rows(df)
        assert e == a and len(a) > 0


def _shingle_forms_agree(df, caps=((None, None), (3, None), (None, 0.04))):
    """`char_shingles(impl="kernel")` (the Arrow shingle-pair kernel,
    `minhash_kernel.shingle_pairs_table`) emits the exact same distinct
    (doc_id, shingle) STRING rows as the expression explode under each
    df-cap strategy (uncapped, absolute, fractional)."""
    from usgs_lidar_spark.operators.dedup import char_shingles

    for cap, frac in caps:
        e, a = (
            sorted(
                map(
                    tuple,
                    char_shingles(
                        df, "text", "doc_id", 8, max_df=cap,
                        max_df_frac=frac, impl=impl,
                    ).collect(),
                )
            )
            for impl in ("expr", "kernel")
        )
        assert e == a, (cap, frac)
        assert len(a) > 0


#: Non-ASCII (codepoint-slicing fallback), short, empty, NULL, exactly-k
#: and repeat-heavy text beside the ASCII fast path.
_SHINGLE_EDGE_TEXTS = [
    "héllo wörld — ein ziemlich ünïcode Dokument hier",
    "plain ascii body that is long enough to shingle",
    "abababababababab",
    "short",
    "",
    None,
    "exactly8",
]


def test_shingle_pairs_table_matches_expression_form(spark):
    """The shingle kernel equals the expression form on the sf0.001
    corpus (ASCII fast path at corpus scale); the edge-case fixture
    runs in the default tier below."""
    from tests.conftest import SF_SMALL

    _shingle_forms_agree(spark.read.parquet(f"{SF_SMALL}/documents.parquet"))


def test_shingle_pairs_table_edge_cases(spark):
    """Default-tier smoke of the shingle kernel's exactness on the
    edge-case fixture."""
    _shingle_forms_agree(
        spark.createDataFrame(
            list(enumerate(_SHINGLE_EDGE_TEXTS, 1)), ["doc_id", "text"]
        )
    )


def test_shingle_pairs_table_flushes_before_the_cap(spark, monkeypatch):
    """With the flush cap below one document's shingle bytes, the kernel
    flushes before every append that would cross it, so each document
    of a multi-document input batch leaves in its own output batch; the
    rows still equal the expression form. A document past the (patched)
    int32 offset limit raises instead of wrapping."""
    from usgs_lidar_spark.operators import minhash_kernel

    rows = [
        (i, t if t is None else f"{t} #{i}")
        for i, t in enumerate(_SHINGLE_EDGE_TEXTS * 10)
    ]
    monkeypatch.setattr(minhash_kernel, "SHINGLE_FLUSH_BYTES", 16)
    _shingle_forms_agree(
        spark.createDataFrame(rows, ["doc_id", "text"]), caps=((None, None),)
    )
    # A document whose shingles alone overflow the offsets raises.
    monkeypatch.setattr(minhash_kernel, "_INT32_MAX", 16)
    with pytest.raises(Exception, match="int32 string offsets"):
        minhash_kernel.shingle_pairs_table(
            spark.createDataFrame(rows, ["doc_id", "text"]), "text", "doc_id"
        ).collect()


def test_minhash_decon_arrow_expr_parity(spark):
    """Optimization round 16: `minhash_decon_pairs` impl="arrow" (the
    fused single-scan kernel, default) and impl="expr" (the banded-join
    form) must agree bit for bit — same pairs, same IEEE jaccard — on
    the sf0.001 cross-set split plus planted exact/edited copies that
    guarantee hits above and below threshold."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from usgs_lidar_spark.operators.dedup import minhash_decon_pairs

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    base = docs.filter(F.col("doc_id") % 11 != 0)
    first = bench.orderBy("doc_id").first()
    edited = "x" + first["text"][1:]
    planted = spark.createDataFrame(
        [(900001, first["text"]), (900002, edited), (900003, "zz" * 40)],
        ["doc_id", "text"],
    )
    corpus = base.unionByName(planted)
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["bench_id"], r["jaccard"]) for r in df.collect()
    )
    a = key(
        minhash_decon_pairs(corpus, bench, "text", "doc_id", impl="arrow")
    )
    e = key(
        minhash_decon_pairs(corpus, bench, "text", "doc_id", impl="expr")
    )
    assert a == e
    assert (900001, first["doc_id"], 1.0) in a


def test_knn_label_vote_majority_gate_and_ties(spark):
    """Map-only kNN vote semantics (round 16): majority label wins with
    (votes DESC, label ASC) ties, NULL-label seeds never vote,
    n_considered tracks the real neighbor count, and min_frac gates."""
    from usgs_lidar_spark.operators.similarity import knn_label_vote

    seeds = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 0),
            (11, [0.99, 0.01], 0),
            (12, [0.0, 1.0], 1),
            (13, [0.01, 0.99], 1),
            (14, [1.0, 1.0], None),  # unlabeled: excluded
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = spark.createDataFrame(
        [(1, [0.98, 0.02]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r.asDict()
        for r in knn_label_vote(corpus, seeds, k=3).collect()
    }
    # c1's 3 nearest labeled seeds: 10, 11 (label 0), then 13 (label 1).
    assert got[1]["pred_label"] == 0
    assert got[1]["n_votes"] == 2 and got[1]["n_considered"] == 3
    assert abs(got[1]["vote_frac"] - 2.0 / 3.0) < 1e-12
    assert got[1]["top_sim"] > 0.999
    # k=4 over 4 labeled seeds: c2 splits 2-2 -> smaller label wins.
    got4 = {
        r["vec_id"]: r.asDict()
        for r in knn_label_vote(corpus, seeds, k=4).collect()
    }
    assert got4[2]["pred_label"] == 0
    assert got4[2]["n_votes"] == 2 and got4[2]["n_considered"] == 4
    # min_frac gates out the 2/3-confidence row.
    gated = {
        r["vec_id"]
        for r in knn_label_vote(corpus, seeds, k=3, min_frac=0.7).collect()
    }
    assert 1 not in gated
    # All-NULL seed labels -> no predictions at all.
    null_seeds = seeds.withColumn("label", F.lit(None).cast("int"))
    assert knn_label_vote(corpus, null_seeds, k=3).count() == 0


def test_knn_label_vote_arrow_expr_parity(spark):
    """Optimization round 16: the Arrow kernel (`impl="arrow"`, default)
    and the pure-expression form (`impl="expr"`) must agree BIT FOR BIT
    — same rounded sims (sequential-fold dot + shortest-decimal
    HALF_UP rounding, `functions.arrow_exact`), same tie-breaks, same
    gating — on the sf0.001 gate split, with and without min_frac."""
    from usgs_lidar_spark.operators.similarity import knn_label_vote
    from tests.conftest import SF_SMALL

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    seeds = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    for mf in (None, 0.6):
        a = sorted(
            map(
                tuple,
                knn_label_vote(
                    corpus, seeds, k=5, min_frac=mf, impl="arrow"
                ).collect(),
            )
        )
        e = sorted(
            map(
                tuple,
                knn_label_vote(
                    corpus, seeds, k=5, min_frac=mf, impl="expr"
                ).collect(),
            )
        )
        assert a == e


def test_kernel_collect_budget_falls_back_to_expr(spark, monkeypatch):
    """Optimization round 17 (VERDICT-r16 item 7): the kernels' driver-
    side collects are row-budgeted. At a cap smaller than the seed/bench
    frame, `semantic_contamination(impl="auto")` must WARN and fall back
    to the expression plan — identical rows (parity is already pinned
    elsewhere; this pins the fallback actually engaging), no MapInArrow
    node, and the collect itself is LIMIT-bounded so the over-budget
    frame never materializes on the driver. `knn_label_vote(impl=
    "arrow")` has no bounded fallback (its expression plan broadcasts
    every seed in one row), so it raises, naming the bounded
    alternatives."""
    import warnings

    from usgs_lidar_spark.operators.similarity import (
        knn_label_vote,
        semantic_contamination,
    )
    from tests.conftest import SF_SMALL

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    seeds = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    bench = emb.filter(F.col("vec_id") % 11 == 0).select("vec_id", "embedding")
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]

    expected_sc = sorted(
        map(
            tuple,
            semantic_contamination(
                corpus.select("vec_id", "embedding"), bench, cents,
                threshold=0.9, impl="expr",
            ).collect(),
        )
    )

    monkeypatch.setenv("SPARK_GRAFT_KERNEL_COLLECT_ROWS", "3")
    with pytest.raises(ValueError, match="budget") as exc:
        knn_label_vote(corpus, seeds, k=5, impl="arrow")
    assert "knn_label_vote_ivf" in str(exc.value)
    assert 'impl="expr"' in str(exc.value)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        sc_df = semantic_contamination(
            corpus.select("vec_id", "embedding"), bench, cents,
            threshold=0.9, impl="auto",
        )
        assert sum("budget" in str(x.message) for x in w) == 1
    assert "MapInArrow" not in sc_df._sc._jvm.PythonSQLUtils.explainString(
        sc_df._jdf.queryExecution(), "simple"
    )
    assert sorted(map(tuple, sc_df.collect())) == expected_sc
    monkeypatch.setenv("SPARK_GRAFT_KERNEL_COLLECT_ROWS", "1000000")
    assert "MapInArrow" in (
        lambda d: d._sc._jvm.PythonSQLUtils.explainString(
            d._jdf.queryExecution(), "simple"
        )
    )(knn_label_vote(corpus, seeds, k=5, impl="arrow"))


def _ivf_assign_forms_agree(corpus, cents):
    """`ivf_assign`'s Arrow kernel, with `keep_sim` off and on, equals
    `method="broadcast"` on every quantizer and `method="expr"` on one
    of at most 8 centroids — same `__cid` argmax (max rounded sim, min
    cid on ties) and same `__csim`. Returns the kernel's
    (vec_id, __cid, __csim) rows."""
    from usgs_lidar_spark.operators.similarity import (
        _ivf_assign_arrow,
        ivf_assign,
    )

    cols = ["vec_id", "__cid", "__csim"]
    got = {
        ks: sorted(
            map(
                tuple,
                _ivf_assign_arrow(corpus, cents, "embedding", 4, ks)
                .select(*cols[: 2 + ks])
                .collect(),
            )
        )
        for ks in (False, True)
    }
    for method in ("broadcast", "expr") if len(cents) <= 8 else ("broadcast",):
        e = sorted(
            map(
                tuple,
                ivf_assign(
                    corpus, cents, "embedding", 4, method=method, keep_sim=True
                )
                .select(*cols)
                .collect(),
            )
        )
        # keep_sim only attaches `__csim`; the ids are unique, so the
        # sorted order is the same without it.
        assert got[True] == e, method
        assert got[False] == [r[:2] for r in e], method
    return got[True]


def test_ivf_assign_arrow_edge_cases(spark):
    """Default-tier smoke of the IVF argmax kernel's exactness on a small
    in-memory fixture: a zero-norm row, a zero-norm centroid, exact
    duplicates and half-scaled copies of centroid vectors (sim-1.0
    rows), and a centroid that is a scaled copy of another, so every
    row ties between the two and the lower cid must win."""
    import random

    import numpy as np

    rng = random.Random(7)
    f32 = lambda x: float(np.float32(x))  # noqa: E731
    base = [[f32(rng.uniform(-1, 1)) for _ in range(4)] for _ in range(12)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows.append((100, [0.0] * 4))  # zero-norm row
    rows += [(200 + i, base[i]) for i in range(4)]  # duplicates
    rows += [(300 + i, [x * 0.5 for x in base[i]]) for i in range(4)]
    # cached: each re-scan of a Python-list frame re-ships the list
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()
    cents = [(10 + i, base[i]) for i in range(5)]
    cents.append((99, [0.0] * 4))  # zero-norm centroid
    cents.append((7, [x * 2.0 for x in base[1]]))  # ties with cid 11
    cents.append((15, base[5]))
    got = {r[0]: r[1:] for r in _ivf_assign_forms_agree(corpus, cents)}
    assert len(got) == len(rows)
    # the tie on base[1]'s direction resolves to the lower cid
    assert got[1] == got[201] == got[301] == (7, 1.0)
    assert got[100][1] == 0.0
    corpus.unpersist()


def test_ivf_assign_arrow_parity(spark):
    """Optimization round 16: `ivf_assign`'s Arrow kernel (the `auto`
    strategy past the expression budget) must agree BIT FOR BIT with
    both expression strategies on the sf0.001 embeddings; the edge-case
    fixture runs in the default tier above."""
    from tests.conftest import SF_SMALL

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 90).collect()
    ]
    _ivf_assign_forms_agree(emb, cents)
    _ivf_assign_forms_agree(emb, cents[:8])


def test_semantic_contamination_arrow_parity(spark):
    """Optimization round 16: `semantic_contamination`'s Arrow kernel
    (the `auto` path) must agree BIT FOR BIT with the packed-expression
    plan (`impl="expr"`) — same cids, hit counts and flags — with the
    hot-pack guard on (both hot and cold cells live) and off, and on
    an empty benchmark."""
    from usgs_lidar_spark.operators.similarity import (
        semantic_contamination,
    )
    from tests.conftest import SF_SMALL

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    bench = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.transform(
            "embedding", lambda x: (x * F.lit(1.25)).cast("float")
        ).alias("embedding")
    )
    for k, cfg in [
        (8, dict(max_pack_size=16, sub_bits=8)),
        (48, dict()),
    ]:
        cents = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < k).collect()
        ]
        a = sorted(
            map(
                tuple,
                semantic_contamination(
                    emb, bench, cents, threshold=0.99, **cfg
                ).collect(),
            )
        )
        e = sorted(
            map(
                tuple,
                semantic_contamination(
                    emb, bench, cents, threshold=0.99, impl="expr", **cfg
                ).collect(),
            )
        )
        assert a == e
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    none = bench.filter(F.lit(False))
    a = sorted(
        map(
            tuple,
            semantic_contamination(emb, none, cents, threshold=0.99).collect(),
        )
    )
    e = sorted(
        map(
            tuple,
            semantic_contamination(
                emb, none, cents, threshold=0.99, impl="expr"
            ).collect(),
        )
    )
    assert a == e and len(a) == emb.count()


def test_quant_exact_kernels_match_expr(spark):
    """The quantized-exact Arrow kernels (`impl="kernel"`, the auto path
    past the expression budget) must agree BIT FOR BIT with the
    literal-expression plans inside the int64 envelope, and fail loudly
    wherever the expression form fails: on sf0.001 rows, and on an edge
    fixture with zero-norm rows, a zero-norm centroid, duplicate rows,
    a tie, and cell sums on either side of 2^63."""
    from usgs_lidar_spark.operators.similarity import (
        ivf_drift_metrics_exact,
        kmeans_step_exact,
    )
    from tests.conftest import SF_SMALL

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    old = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    new = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(
            (F.col("vec_id") >= 8) & (F.col("vec_id") < 16)
        ).collect()
    ]
    k = sorted(
        map(
            tuple,
            ivf_drift_metrics_exact(emb, old, new, impl="kernel").collect(),
        )
    )
    e = sorted(
        map(
            tuple,
            ivf_drift_metrics_exact(emb, old, new, impl="expr").collect(),
        )
    )
    assert k == e and len(k) > 0
    k = sorted(
        map(tuple, kmeans_step_exact(emb, old, impl="kernel").collect())
    )
    e = sorted(map(tuple, kmeans_step_exact(emb, old, impl="expr").collect()))
    assert k == e and len(k) > 0

    # Edge fixture (qbits=20): rows 0-1 are zero-norm, 2-3 duplicates,
    # row 4 ties cids 1 and 2 (min cid wins), row 6 is closest to the
    # zero-norm centroid 3. The 40 duplicate rows (big, 0, 0, 0) land
    # in cell 1 with qdot = big * 2^40 each: big = 2^17 keeps cell 1's
    # sum_qdot under 2^63, 2^20 pushes it past (as it does the partial
    # of any kernel task holding nine or more of these rows), and 2^23
    # pushes a single dot past.
    def edge(big):
        vecs = [[0.0] * 4] * 2 + [[0.5, 0.25, 0.0, 0.0]] * 2 + [
            [1.0, 1.0, 0.0, 0.0],
            [0.1, 0.9, 0.0, 0.0],
            [-1.0] * 4,
        ] + [[big, 0.0, 0.0, 0.0]] * 40
        return spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<double>"
        )

    e_old = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
             (3, [0.0] * 4)]
    e_new = [(10, [0.0, 0.0, 1.0, 0.0]), (11, [1.0, 1.0, 0.0, 0.0]),
             (12, [0.0] * 4)]

    def drift(df):
        return lambda impl: ivf_drift_metrics_exact(
            df, e_old, e_new, impl=impl
        )

    def step(df):
        return lambda impl: kmeans_step_exact(df, e_old, impl=impl)

    below = edge(2.0**17)
    for run in (drift(below), step(below)):
        k, e = (
            sorted(map(tuple, run(impl).collect()))
            for impl in ("kernel", "expr")
        )
        assert k == e and len({r[0] for r in k}) == 3
    sums = {r["cid"]: r["sum_qdot"] for r in drift(below)("kernel").collect()}
    assert sums[1] > 2**62
    for impl in ("kernel", "expr"):
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            drift(edge(2.0**20))(impl).collect()
    over = edge(2.0**23)
    for run in (drift(over), step(over)):
        with pytest.raises(Exception, match="int64 envelope"):
            run("kernel").collect()
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            run("expr").collect()


def test_quantize_exact_raises_outside_int64_and_on_nan(spark):
    """`quantize_exact` (both builder forms) and its kernel mirror
    `_quantize_np` floor x * 2^qbits exactly inside the int64 envelope,
    down to its two edges, keep a null component null, and raise naming
    the envelope on NaN, infinities and components just past either
    edge, where Spark's floor would clamp silently."""
    import math

    import numpy as np

    from usgs_lidar_spark.functions.vectors import quantize_exact
    from usgs_lidar_spark.operators.similarity import _quantize_np

    q = 20
    edge = 2.0 ** (63 - q)
    ok = [0.5, -0.25, 1e-7, -3.0, math.nextafter(edge, 0.0), -edge]
    want = [math.floor(x * 2.0**q) for x in ok]
    assert want[-2:] == [2**63 - 2**10, -(2**63)]
    df = spark.createDataFrame([(ok + [None],)], "v array<double>")
    for form in ("v", F.col("v")):
        assert df.select(quantize_exact(form, q)).first()[0] == want + [None]
    assert _quantize_np(np.asarray([ok]), 2.0**q).tolist() == [want]
    for bad in (math.nan, math.inf, -math.inf, edge, math.nextafter(-edge, -math.inf)):
        bdf = spark.createDataFrame([([0.5, bad],)], "v array<double>")
        for form in ("v", F.col("v")):
            with pytest.raises(Exception, match="int64 envelope"):
                bdf.select(quantize_exact(form, q)).collect()
        with pytest.raises(ArithmeticError, match="int64 envelope"):
            _quantize_np(np.asarray([[0.5, bad]]), 2.0**q)


def test_bloom_prefilter_join_transparent_and_no_false_negatives(spark):
    """Bloom semi-join reduction (round 16): no false negatives (every
    build key passes its own bitmap), the prefiltered join is row-for-
    row identical to the plain join (NULL keys and false positives
    dropped by the exact join), FP rate on a disjoint probe set stays
    in the theoretical band, and an empty build side yields an empty
    join."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.bloomjoin import (
        bloom_bitmap,
        bloom_prefilter_join,
        might_contain,
    )

    build = spark.range(500).select(
        F.col("id").alias("k"), F.lit("dim").alias("tag")
    )
    bm = bloom_bitmap(build, "k", n_bits=1 << 13, n_hashes=5)
    assert len(bm.collect()[0]["bitmap"]) == (1 << 13) // 64
    # no false negatives: all 500 build keys pass
    kept_own = (
        build.crossJoin(F.broadcast(bm))
        .filter(might_contain("bitmap", "k", 1 << 13, 5))
        .count()
    )
    assert kept_own == 500
    # FP rate on 2000 DISJOINT keys: ~(1-e^(-5*500/8192))^5 ~ 0.15%;
    # assert a generous deterministic ceiling (fixed hashes, fixed data)
    probe = spark.range(10_000, 12_000).select(F.col("id").alias("k"))
    fp = (
        probe.crossJoin(F.broadcast(bm))
        .filter(might_contain("bitmap", "k", 1 << 13, 5))
        .count()
    )
    assert fp <= 20
    # transparency, including NULL keys on both sides
    big = spark.createDataFrame(
        [(i, i * 2) for i in range(1000)] + [(None, -1)],
        "k long, v long",
    )
    dim = spark.createDataFrame(
        [(i, "d") for i in range(250, 750)] + [(None, "n")],
        "k long, tag string",
    )
    got = sorted(
        (r["k"], r["v"], r["tag"])
        for r in bloom_prefilter_join(big, dim, "k", n_bits=1 << 13).collect()
    )
    want = sorted(
        (r["k"], r["v"], r["tag"]) for r in big.join(dim, "k").collect()
    )
    assert got == want and len(got) == 500
    # empty build side -> all-zero bitmap -> empty join
    assert (
        bloom_prefilter_join(
            big, dim.filter(F.lit(False)), "k", n_bits=1 << 13
        ).count()
        == 0
    )
    with _pytest.raises(ValueError, match="multiple of 64"):
        bloom_bitmap(build, "k", n_bits=100)


def test_loader_schedule_stride_interleave_exact(spark):
    """Hand-checked stride schedule: stream A has 4x the bytes of B ->
    sqrt weights 2:1 -> vtimes A=(2k+1)*0.75, B=(2k+1)*1.5 and the
    interleave A B A A B A; every prefix holds shares within one shard
    of 2:1. T=1 uses raw byte weights; other T raises."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.pipeline import loader_schedule

    manifest = spark.createDataFrame(
        [("A", 1, 100), ("A", 2, 100), ("A", 3, 100), ("A", 4, 100),
         ("B", 1, 50), ("B", 2, 50)],
        "stream string, shard_id int, n_bytes long",
    )
    rows = loader_schedule(manifest, temperature=2.0).collect()
    order = [(r["stream"], r["shard_id"]) for r in sorted(rows, key=lambda r: r["step"])]
    assert order == [("A", 1), ("B", 1), ("A", 2), ("A", 3), ("B", 2), ("A", 4)]
    vt = {(r["stream"], r["shard_id"]): r["vtime"] for r in rows}
    # totq = 30*2^20, wq_A = 20*2^20, wq_B = 10*2^20 (sqrt(400)=20 and
    # sqrt(100)=10 are exact): vtime is exactly (2k+1)*30/(2*w).
    assert vt[("A", 1)] == 0.75 and vt[("A", 4)] == 5.25
    assert vt[("B", 1)] == 1.5 and vt[("B", 2)] == 4.5
    # T=1: weights 4:1 -> A's first FOUR strides (0.625..4.375) all
    # precede B's first (2.5)? no — 2.5 lands between A3 (3.125)...
    # just assert the prefix-share property instead of the literal order
    rows1 = sorted(
        loader_schedule(manifest, temperature=1.0).collect(),
        key=lambda r: r["step"],
    )
    for n in range(1, 7):
        a_share = sum(1 for r in rows1[:n] if r["stream"] == "A")
        assert abs(a_share - n * 4 / 5) <= 1.0
    with _pytest.raises(ValueError, match="temperature"):
        loader_schedule(manifest, temperature=3.0)
    # a zero-byte stream contributes no schedule entries
    m2 = manifest.union(
        spark.createDataFrame([("C", 1, 0)], manifest.schema)
    )
    assert {
        r["stream"] for r in loader_schedule(m2).collect()
    } == {"A", "B"}


def test_knn_vote_calibration_rises_on_clustered_labels(spark):
    """The gate-calibration apparatus (round 16): when labels FOLLOW
    embedding geometry, accuracy rises with vote concentration —
    unanimous votes are right, split votes near the cluster boundary
    are not. (On the synthetic corpus the registered query correctly
    reports a flat chance-level curve; this fixture pins the rising
    shape the apparatus exists to detect.)"""
    from usgs_lidar_spark.operators.similarity import knn_label_vote

    # two tight clusters + one boundary point; seeds = 3 per cluster
    seeds = spark.createDataFrame(
        [(10, [1.0, 0.0], 0), (11, [0.98, 0.02], 0), (12, [0.96, 0.04], 0),
         (13, [0.0, 1.0], 1), (14, [0.02, 0.98], 1), (15, [0.04, 0.96], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = spark.createDataFrame(
        [(1, [0.99, 0.01], 0), (2, [0.97, 0.03], 0),   # deep in cluster 0
         (3, [0.01, 0.99], 1),                          # deep in cluster 1
         (4, [0.5, 0.5], 0)],                           # boundary
        "vec_id long, embedding array<float>, label int",
    )
    voted = {
        r["vec_id"]: r.asDict()
        for r in knn_label_vote(corpus, seeds, k=3).collect()
    }
    # deep points vote 3-0 for the true label; the boundary point's
    # top-3 mixes clusters (its nearest seeds straddle the diagonal)
    for vid in (1, 2, 3):
        assert voted[vid]["n_votes"] == 3
        assert voted[vid]["pred_label"] == (1 if vid == 3 else 0)
    assert voted[4]["n_votes"] < 3


def test_knn_label_vote_ivf_probe_all_parity(spark):
    """The IVF gate's exactness contract: probing ALL cells reproduces
    the map-only `knn_label_vote` bit-for-bit; probe-1 confines each
    corpus row's electorate to its own cluster's seeds (the IVF recall
    approximation, visible as a unanimous same-label vote even at the
    boundary)."""
    from usgs_lidar_spark.operators.similarity import (
        knn_label_vote,
        knn_label_vote_ivf,
    )

    seeds = spark.createDataFrame(
        [(10, [1.0, 0.0], 0), (11, [0.98, 0.02], 0), (12, [0.96, 0.04], 0),
         (13, [0.0, 1.0], 1), (14, [0.02, 0.98], 1), (15, [0.04, 0.96], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = spark.createDataFrame(
        [(1, [0.99, 0.01]), (2, [0.97, 0.03]), (3, [0.01, 0.99]),
         (4, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["pred_label"], r["n_votes"], r["n_considered"],
         r["vote_frac"], r["top_sim"])
        for r in df.collect()
    )
    exact = key(knn_label_vote(corpus, seeds, k=3))
    probe_all = key(
        knn_label_vote_ivf(corpus, seeds, cents, k=3, n_probe=2)
    )
    assert probe_all == exact
    # probe-1: the boundary point (4) sees only one cluster's seeds ->
    # 3 unanimous votes from that cluster (cell tie broken to cid 0)
    p1 = {
        r["vec_id"]: r.asDict()
        for r in knn_label_vote_ivf(
            corpus, seeds, cents, k=3, n_probe=1
        ).collect()
    }
    assert p1[4]["n_votes"] == 3 and p1[4]["pred_label"] == 0


def test_suppress_rare_groups_modes_and_fraction(spark):
    """k-anonymity semantics (round 16): groups under k get their
    quasi-identifiers NULLed (mode='null') or dropped (mode='drop'),
    group_n and the suppressed flag audit every row, the fractional k
    resolves against the corpus size, and bad arguments raise."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.dq import suppress_rare_groups

    rows = [(i, "en", "web") for i in range(8)] + [
        (8, "en", "books"), (9, "fr", "web"), (10, "fr", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    got = {
        r["doc_id"]: r.asDict()
        for r in suppress_rare_groups(
            df, ["lang", "source"], k=3, mode="null"
        ).collect()
    }
    # (en, web) n=8 survives; (fr, web) n=2 and (en, books) n=1 suppress
    assert got[0]["lang"] == "en" and not got[0]["suppressed"]
    assert got[8]["lang"] is None and got[8]["source"] is None
    assert got[8]["suppressed"] and got[8]["group_n"] == 1
    assert got[9]["lang"] is None and got[9]["group_n"] == 2
    # drop mode keeps only the big group
    kept = suppress_rare_groups(df, ["lang", "source"], k=3, mode="drop")
    assert kept.count() == 8 and "suppressed" in kept.columns
    # fractional k: ceil(0.5 * 11) = 6 -> only the 8-row group survives
    frac = suppress_rare_groups(df, ["lang", "source"], k_frac=0.5)
    assert frac.filter(~F.col("suppressed")).count() == 8
    with _pytest.raises(ValueError, match="exactly one"):
        suppress_rare_groups(df, ["lang"], k=3, k_frac=0.1)
    with _pytest.raises(ValueError, match="mode"):
        suppress_rare_groups(df, ["lang"], k=3, mode="redact")


def test_link_prediction_jaccard_hand_graph(spark):
    """Hand-checked link prediction: path graph 1-2, 1-3, 2-4, 3-4
    (a 4-cycle) -> the two diagonals (1,4) and (2,3) each share BOTH
    their neighbors (n_common=2, jaccard=2/(2+2-2)=1.0); connected
    pairs never appear; the hub cap drops wedges through the hub but
    keeps full degrees in the denominator."""
    import pytest as _pytest

    from usgs_lidar_spark.operators.graph import link_prediction_jaccard

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): (r["n_common"], r["jaccard"])
        for r in link_prediction_jaccard(edges, min_common=2).collect()
    }
    assert got == {(1, 4): (2, 1.0), (2, 3): (2, 1.0)}
    # star + one rim edge: hub 0 connects 1..4; rim edge (1, 2).
    # (3,4) share only hub 0 -> with the hub capped out (degree 4 > 3)
    # no wedge survives for them; (1,2) is connected and excluded.
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)], "src long, dst long"
    )
    uncapped = {
        (r["src"], r["dst"])
        for r in link_prediction_jaccard(star, min_common=1).collect()
    }
    assert (3, 4) in uncapped
    capped = {
        (r["src"], r["dst"])
        for r in link_prediction_jaccard(
            star, min_common=1, max_hub_degree=3
        ).collect()
    }
    assert (3, 4) not in capped
    with _pytest.raises(ValueError, match="max_hub_degree"):
        link_prediction_jaccard(star, max_hub_degree=0)


def test_fake_dhash_vectorized_matches_scalar(spark):
    """The vectorized NumPy batch kernel (optimization round 16) must
    reproduce the scalar byte-grid decode + band packing bit for bit,
    on adversarial payloads: empty, None, 1-byte, shorter/longer than
    the sample grid, high bytes (>127 — unsigned compare), and both
    band widths (4 and 8)."""
    from usgs_lidar_spark.multimodal import (
        fake_dhash_image,
        fake_dhash_image_wide,
    )
    from usgs_lidar_spark.multimodal.binary_ops import (
        _pack_dhash_bands_n,
    )

    payloads = [
        (1, b""),
        (2, None),
        (3, b"\x00"),
        (4, b"\xff"),
        (5, bytes(range(7))),
        (6, bytes(range(255, 0, -3))),
        (7, bytes([200, 10] * 100)),
        (8, ("the quick brown fox " * 40).encode()),
        (9, bytes([128, 127, 129, 126] * 50)),
    ]
    media = spark.createDataFrame(
        payloads, "media_id long, content binary"
    )

    def scalar(b, n_bands):
        b = bytes(b) if b is not None else b""
        n = len(b)
        if n == 0:
            return tuple([0] * n_bands)
        s = 8 * (2 * n_bands + 1)
        return tuple(
            _pack_dhash_bands_n([b[(k * n) // s] for k in range(s)], n_bands)
        )

    for n_bands, frame in (
        (4, fake_dhash_image(media)),
        (8, fake_dhash_image_wide(media, n_bands=8)),
    ):
        got = {
            r["media_id"]: tuple(r[f"b{q}"] for q in range(n_bands))
            for r in frame.collect()
        }
        want = {mid: scalar(b, n_bands) for mid, b in payloads}
        assert got == want


def test_audio_fingerprint_vectorized_matches_scalar(spark):
    """The vectorized prefix-sum fingerprint (optimization round 16)
    must reproduce the scalar block-energy reference bit for bit:
    under-65-byte payloads -> NULL bands, exact int64 sums of squares,
    length-normalized block boundaries."""
    from usgs_lidar_spark.multimodal import audio_energy_fingerprint

    payloads = [
        (1, b""),
        (2, None),
        (3, bytes(range(64))),          # one short of the minimum
        (4, bytes(range(65))),          # exactly the minimum
        (5, bytes([128] * 200)),        # all-silence: every energy 0
        (6, bytes([0, 255] * 300)),     # max-amplitude alternation
        (7, ("pcm" * 500).encode()),
        (8, bytes((i * 37) % 256 for i in range(997))),
    ]
    media = spark.createDataFrame(
        payloads, "media_id long, content binary"
    )

    def scalar(b):
        b = bytes(b) if b is not None else b""
        n = len(b)
        if n < 65:
            return (None,) * 4
        energy = [
            sum((x - 128) * (x - 128)
                for x in b[(k * n) // 65:((k + 1) * n) // 65])
            for k in range(65)
        ]
        bands = [0, 0, 0, 0]
        for j in range(64):
            if energy[j] > energy[j + 1]:
                bands[j // 16] |= 1 << (j % 16)
        return tuple(bands)

    got = {
        r["media_id"]: tuple(r[f"b{q}"] for q in range(4))
        for r in audio_energy_fingerprint(media).collect()
    }
    assert got == {mid: scalar(b) for mid, b in payloads}
