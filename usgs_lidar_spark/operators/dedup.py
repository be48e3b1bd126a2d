"""Deduplication operators for the LLM-data-pipeline surface: exact,
n-gram Jaccard, MinHash+LSH, SimHash.

None exist in the reference (its only set-like op is the row-append at
/root/reference/scripts/usgs_lidar.py:263-271); these are the north-star
extension operators (SURVEY.md §2 "Extension operators").

Scale design notes (100 TB of documents):
  * exact dedup: hash-groupBy on the full text (or a fingerprint) — one
    shuffle keyed by the hash, partial aggregation keeps the map side thin;
  * n-gram Jaccard: explode shingles -> self-join on shingle -> count
    intersections. The shingle join is an equi-join (shuffle on shingle
    hash); frequency-capping hot shingles bounds skew;
  * MinHash LSH: signature = per-row column math (no shuffle), banding
    turns near-dup search into an equi-join on (band, band-hash) buckets —
    candidate pairs only, never all-pairs;
  * SimHash: 64-bit fingerprint per doc; near-dups share fingerprints at
    small Hamming distance — bucket-join on rotated prefixes.

All shingle/minhash hashing uses Spark's built-in xxhash64/hash with fixed
seeds — deterministic across runs and cluster layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate collapse: keep the min-id representative per distinct
    text. One hash-shuffle on the text; at scale, group on xxhash64(text)
    first and only compare texts within a hash bucket (collision-safe
    two-step) — for the oracle-checked form we group on the text itself."""
    return df.groupBy(F.col(text_col).alias("text_key")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def exact_dedup_hashed(
    df: DataFrame, text_col: str, id_col: str, primary_bits: int | None = None
) -> DataFrame:
    """Scale form of exact dedup: the shuffle carries (hash64, hash64, id)
    — 24 bytes per row — and the document text NEVER moves. This is the
    form `exact_dedup`'s docstring prescribes for 100 TB, where shuffling
    full documents as group keys is the dominant cost.

    Verification without moving text: a second, independently-seeded
    xxhash64 is aggregated as count_distinct per bucket (`n_variants`).
    Two distinct texts colliding on the primary hash would need to also
    collide on the secondary to go unnoticed (~2^-128 per pair) —
    `n_variants > 1` flags a detected primary-hash collision for the
    caller. The driver oracle pins `n_variants == 1` on every group by
    emitting a literal 1 against a GROUP BY text.

    Output: one row per distinct text — (keep_id, n_copies, n_variants).

    ``primary_bits`` artificially narrows the primary hash to its low N
    bits (collision injection for tests — a genuine 64-bit xxhash64
    collision cannot be manufactured): with it set, distinct texts DO land
    in shared primary buckets and the test asserts ``n_variants`` counts
    them. Production callers leave it None.
    """
    # Second family must be INDEPENDENT of the first. Spark folds multi-arg
    # xxhash64 left-to-right (each argument's hash seeds the next), so
    # xxhash64(text, lit(1)) == xxh(1, seed=xxh(text, 42)) — a deterministic
    # function of __h1, under which any primary collision also collides and
    # n_variants could never exceed 1. Salt FIRST instead:
    # xxhash64(lit(1), text) == xxh(text, seed=xxh(1, 42)) — the same text
    # hashed under a different constant seed, a genuinely independent draw.
    h1 = F.xxhash64(F.col(text_col))
    if primary_bits is not None:
        # Test-only collision-injection knob; the mask must stay a valid
        # positive LongType literal (bits >= 64 would overflow to -1/UB).
        if not 0 < primary_bits < 64:
            raise ValueError(
                f"primary_bits must be in (0, 64), got {primary_bits}"
            )
        h1 = h1.bitwiseAND(F.lit((1 << primary_bits) - 1).cast("long"))
    hashed = df.select(
        F.col(id_col).alias("__id"),
        h1.alias("__h1"),
        F.xxhash64(F.lit(1), F.col(text_col)).alias("__h2"),
    )
    return hashed.groupBy("__h1").agg(
        F.min("__id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.count_distinct("__h2").alias("n_variants"),
    ).drop("__h1")


def char_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    max_df: int | None = 20,
    max_df_frac: float | None = None,
    impl: str = "expr",
) -> DataFrame:
    """Distinct character k-shingles per document: (id, shingle).

    Built with sequence/transform/explode — JVM-side, no UDF. Documents
    shorter than k yield no shingles (same as the oracle's range()).

    ``max_df``: drop shingles appearing in more than `max_df` documents.
    This is the skew/scale guard: the all-pairs cost of the shingle
    self-join is sum(df^2) over shingles, and a handful of stop-shingles
    dominate it (observed: 5.6e8 joined rows at sf0.1 uncapped vs ~2.7e7
    capped at 20). Near-duplicates still share their rare shingles, so
    capping is the standard near-dup practice — and it bounds the worst
    key's skew at 100 TB. The cap is ON BY DEFAULT (20, matching the
    measured sweet spot above): the quadratic stop-shingle join is an
    explicit ``max_df=None`` opt-out, not something a caller can hit by
    omission.

    The capped path is two bounded-state steps:
      1. distinct (doc_id, shingle) — HashAggregate keyed by the pair,
         spillable, no per-key collection;
      2. document frequency as a window COUNT over shingle, then filter.
         WindowExec buffers each shingle's group in a spillable row array
         (ExternalAppendOnlyUnsafeRowArray): a stop-shingle appearing in
         1e8 docs spills its group to DISK and is then discarded — slow
         for that one key but never an executor OOM, unlike a
         collect_set whose 1e8-id set must fit an aggregation buffer
         BEFORE the cap filter can reject it. One computation of the
         explode+distinct subtree (a count+semi-join formulation would
         recompute it for each side of the join).

    ``max_df_frac``: the SCALE-STABLE fractional cap — "drop shingles
    present in more than this FRACTION of shingle-bearing documents".
    An absolute cap silently tightens as the corpus grows (SCALE.md
    measured `source_overlap_matrix` emitting 89 pairs at 10x vs 190 at
    1x purely from df drift past a fixed 20), so any consumer comparing
    answers ACROSS corpus sizes should set the fraction instead.
    Overrides ``max_df`` when given. Resolution costs ZERO extra corpus
    passes and no driver collect (the `contaminated_docs` idiom, now
    shared by every shingle consumer): the distinct (doc, shingle)
    frame is localCheckpoint-pinned once — the same bytes the df-cap
    window was about to shuffle anyway — the denominator
    count(distinct doc_id) rides a one-row broadcast crossJoin into
    the cap comparison, and the window reads the pin. The denominator
    is docs that PRODUCED at least one shingle (docs shorter than k
    can never appear in any shingle's df, so they have no place in a
    document-frequency fraction); the threshold
    ``greatest(1, ceil(frac * n))`` is the same double multiply + ceil
    Python would compute — deterministic in any engine.
    """
    if max_df_frac is not None and not 0.0 < max_df_frac <= 1.0:
        raise ValueError(
            f"max_df_frac must be in (0, 1], got {max_df_frac}"
        )
    if impl == "kernel":
        # Arrow-vectorized exact twin of the explode below (optimization
        # round 17, guide §4.2): same distinct (doc_id, shingle) STRING
        # rows, built by re-slicing the Arrow text buffer instead of the
        # interpreted transform+substring chain, whose per-substring
        # codepoint walk is O(len²) bytes per document (measured 1.87 s
        # of pipe_contamination's 3.9 s wall at sf0.1). For SINGLE-
        # consumer shingle frames only (decon, overlap matrix): the
        # cached self-join paths keep the expression form, whose
        # plan-equal frames hit the session cache across constructions —
        # a fresh Python lambda never can (round-16 change 3).
        from usgs_lidar_spark.operators.minhash_kernel import (
            shingle_pairs_table,
        )

        exploded = shingle_pairs_table(df, text_col, id_col, k)
        return _df_capped_pairs(
            exploded, max_df, max_df_frac, predistinct=True
        )
    if impl != "expr":
        raise ValueError(f"impl must be 'expr' or 'kernel', got {impl!r}")
    # Explicit empty-array guard: Spark's sequence(1, 0) yields a
    # DESCENDING [1, 0] (not empty), which would fabricate shingles for
    # docs shorter than k — the oracle's range(1, 1) is empty.
    # array_distinct BEFORE the explode (optimization round 16, guide
    # §2.4): per-document dedup is a map-side array op, and since two
    # documents can never collide on (doc_id, shingle), per-doc-distinct
    # IS globally distinct — the downstream `.distinct()` shuffle of
    # every exploded pair disappears outright.
    shingle_arr = F.expr(
        f"CASE WHEN length({text_col}) < {k} THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE array_distinct(transform(sequence(1, length({text_col}) - {k - 1}), "
        f"i -> substring({text_col}, i, {k}))) END"
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.explode(shingle_arr).alias("shingle")
    )
    return _df_capped_pairs(exploded, max_df, max_df_frac, predistinct=True)


def _df_capped_pairs(
    exploded: DataFrame,
    max_df: int | None,
    max_df_frac: float | None,
    predistinct: bool = False,
) -> DataFrame:
    """The shared document-frequency cap over an exploded (doc_id,
    shingle) frame — char_shingles' cap strategies (fractional /
    absolute-window / uncapped; see its docstring for the memory and
    scale contracts of each), factored out so token-gram
    shingling reuses them verbatim.

    ``predistinct=True`` declares the builder already deduplicated each
    document's shingle array map-side (`array_distinct` before the
    explode — optimization round 16): (doc_id, shingle) rows are then
    globally distinct by construction and the `.distinct()` shuffle is
    skipped in every strategy."""

    def _distinct(df: DataFrame) -> DataFrame:
        return df if predistinct else df.distinct()

    if max_df_frac is not None:
        pairs = _distinct(exploded).localCheckpoint(eager=False)
        n_docs = pairs.agg(F.count_distinct("doc_id").alias("__n"))
        w = Window.partitionBy("shingle")
        return (
            pairs.withColumn("__df", F.count(F.lit(1)).over(w))
            .crossJoin(F.broadcast(n_docs))
            .filter(
                F.col("__df")
                <= F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(F.lit(float(max_df_frac)) * F.col("__n")),
                )
            )
            .select("doc_id", "shingle")
        )
    if max_df is None:
        return _distinct(exploded)
    pairs = _distinct(exploded)
    w = Window.partitionBy("shingle")
    return (
        pairs.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .select("doc_id", "shingle")
    )


def token_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    lowercase: bool = True,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Distinct TOKEN n-grams per document: (doc_id, shingle), shingle =
    n consecutive whitespace tokens re-joined with single spaces.

    The decontamination unit of the GPT-3 lineage (Brown et al. 2020,
    appendix C: 13-gram overlap against benchmarks; successors keep the
    same shape) — character shingles catch near-verbatim bytes, token
    n-grams catch verbatim PHRASES across whitespace/formatting
    variation. Documents with fewer than ``n`` tokens yield no grams
    (mirrors the oracle's empty range). Built with
    sequence/transform/slice — JVM-side, no UDF; the df-cap strategies
    are char_shingles' exactly (`_df_capped_pairs`), default UNCAPPED:
    unlike char-8 shingles there is no stop-gram mass at n=13, and the
    decontamination join is linear in corpus either way.
    """
    from usgs_lidar_spark.functions.textstats import ws_tokens

    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    if max_df_frac is not None and not 0.0 < max_df_frac <= 1.0:
        raise ValueError(
            f"max_df_frac must be in (0, 1], got {max_df_frac}"
        )
    toks = ws_tokens(text_col)
    if lowercase:
        toks = F.transform(toks, F.lower)
    m = F.size(toks)
    # Same empty-array guard as char_shingles: sequence(1, 0) yields a
    # DESCENDING [1, 0], which would fabricate grams for short docs.
    grams = F.when(
        m < n, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), m - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("shingle")
    )
    return _df_capped_pairs(exploded, max_df, max_df_frac, predistinct=True)


def source_overlap_matrix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 8,
    max_df: int | None = 20,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Cross-SOURCE duplication overlap matrix — the curation question
    "how much does source A republish source B" as shingle-set Jaccard
    between sources: per unordered source pair, the shared distinct
    df-capped char-k shingles over the union.

    Plan (re-shaped in optimization round 16, guide §2.3/§2.4): the
    doc-level df cap runs FIRST (`char_shingles` — a stop-shingle
    shared by every source is noise, not overlap evidence), then ONE
    shuffle keyed by shingle collapses each shingle to its SOURCE SET
    (`collect_set` — bounded by min(#sources, max_df), both tiny by
    contract, and partially aggregated map-side), and the ordered
    source pairs are emitted from each set with an array
    transform/filter — pure map work. The former plan's (source,
    shingle) `.distinct()` exchange and the two shingle-keyed
    self-join legs are gone; the per-shingle blowup (sum over shingles
    of sources² <= max_df²) now materializes as <= max_df²/2 struct
    rows map-side instead of joined rows through an exchange. Output
    is bounded by #sources² rows; counts are exact integers, Jaccard
    is one double division. At 100 TB this is the same linear shape as
    the doc-level join — sources are a tiny domain riding an
    already-capped key.

    ``max_df_frac``: the scale-stable fractional df cap (see
    `char_shingles`) — REQUIRED reading for anyone comparing overlap
    across corpus sizes: with the absolute cap, a growing corpus pushes
    legitimately-shared shingles past the fixed df and the matrix
    silently thins (measured: 89 pairs at 10x vs 190 at 1x with
    max_df=20 on the replicated corpus; stable with the fraction).
    Overrides ``max_df`` when given.

    Returns (src_a, src_b, n_shared, n_a, n_b, jaccard), src_a < src_b,
    only pairs sharing at least one shingle.
    """
    pairs = char_shingles(
        docs, text_col, id_col, k=k, max_df=max_df, max_df_frac=max_df_frac,
        impl="kernel",
    )
    # ONE shuffle by shingle: each shingle's source SET (collect_set
    # dedups (source, shingle) implicitly — the former standalone
    # `.distinct()` exchange is gone; the set is bounded by
    # min(#sources, max_df) so the aggregation buffer is tiny and
    # map-side partial merge applies). Pin: the sets frame is
    # referenced twice below (sizes + pair emission); unpinned, the
    # df-cap window upstream re-executes per reference (the NO_AQE
    # multi-reference trap).
    sets = (
        pairs.join(
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.col(group_col).alias("__g"),
            ),
            "doc_id",
        )
        .groupBy("shingle")
        .agg(F.collect_set("__g").alias("__gs"))
        .localCheckpoint(eager=False)
    )
    sizes = (
        sets.select(F.explode("__gs").alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    )
    # Ordered pairs from each set — pure map work over <= |set|²
    # structs per shingle (bounded by max_df²), no self-join.
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "__gs",
                lambda a: F.transform(
                    F.col("__gs"),
                    lambda b: F.struct(
                        a.alias("src_a"), b.alias("src_b")
                    ),
                ),
            )
        ),
        lambda p: p["src_a"] < p["src_b"],
    )
    inter = (
        sets.select(F.explode(pair_structs).alias("__p"))
        .select("__p.src_a", "__p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sz_a = sizes.select(F.col("__g").alias("src_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("__g").alias("src_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "src_a")
        .join(sz_b, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    threshold: float = 0.6,
    max_df: int | None = 20,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all pairs with
    J(a,b) = |shingles_a ∩ shingles_b| / |shingles_a ∪ shingles_b| >= t.

    Plan: shingle-explode -> equi-self-join on shingle -> per-pair
    intersection counts -> join per-doc shingle counts -> Jaccard filter.
    Returns (id_a, id_b, jaccard4) with id_a < id_b; jaccard4 =
    round(J, 4) computed from exact integer counts (deterministic:
    inter/union are integers, one double division).
    """
    sh = char_shingles(df, text_col, id_col, k, max_df).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    # sz_a/sz_b are one-row-per-document tables — data-dependent size, so
    # no forced broadcast: plain equi-joins that AQE broadcasts only when
    # the side is actually small at runtime.
    jac = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def _mh_sig_exprs(num_perm: int) -> list:
    """The num_perm seeded-minima aggregate columns of a MinHash
    signature, each parsed JVM-side in ONE py4j call (optimization
    round 16, guide §7.3: the Column-API form cost ~48 round trips PER
    PERMUTATION — 3,074 calls for num_perm=64, the single largest term
    of every minhash consumer's plan-construction wall). Analyzed plan
    semantically equal to the composed form (sameResult pinned by
    `test_sqlbuild_parity.py`): seeds parse as the same IntegerType
    literals, so every xxhash64 bit matches and warm-session signature
    caches keep hitting."""
    return [
        F.expr(f"min(xxhash64(shingle, {i})) AS mh_{i}")
        for i in range(num_perm)
    ]


def _mh_band_struct_sql(bands: int, rows_per_band: int, hash_inline: bool) -> str:
    """SQL text of the per-doc band array:
    ``array(named_struct('band', b, 'h', <band hash b>), ...)``.
    ``hash_inline=True`` renders the xxhash64 over the signature columns
    inside each struct (the incremental form); ``False`` references
    pre-computed ``band_b`` columns (the self-join form) — note
    (ADVICE r16) that ``rows_per_band`` is UNUSED in the False form,
    which implicitly couples to the caller having built its ``band_b``
    columns with the same rows-per-band grouping."""
    entries = []
    for b in range(bands):
        if hash_inline:
            cols = ", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            h = f"xxhash64({cols})"
        else:
            h = f"band_{b}"
        entries.append(f"named_struct('band', {b}, 'h', {h})")
    return "array(" + ", ".join(entries) + ")"


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    num_perm: int = 64,
    max_df: int | None = 20,
) -> DataFrame:
    """MinHash signature per document: num_perm seeded xxhash64 minima over
    the shingle set. Pure column math after the shingle explode — the
    num_perm 'permutations' are xxhash64(shingle, seed=i) minima, the
    standard one-pass construction."""
    sh = char_shingles(df, text_col, id_col, k, max_df)
    return sh.groupBy("doc_id").agg(*_mh_sig_exprs(num_perm))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.6,
    max_df: int | None = 20,
    impl: str = "expr",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified with
    exact Jaccard. rows-per-band = num_perm // bands; two docs collide if
    any band of their signatures matches exactly (equi-join on the band
    hash — never an all-pairs comparison). Candidates are then verified
    with exact shingle Jaccard so the output has no false positives.

    ``impl`` (optimization round 16, guide §1/§4.2/§8): ``"arrow"``
    computes signatures+bands map-side in one Arrow kernel pass with a
    BIT-EXACT NumPy reproduction of the xxhash64 construction
    (`minhash_kernel`): the df cap becomes one 8-byte-code aggregate +
    a broadcast hot-code set, banding rides the scan (no shingle
    explode, no distinct shuffle, no 64-column aggregate), and
    verification re-shingles only the candidate pairs' raw texts inside
    a second kernel instead of the k-times-inflated (id, shingle) join.
    Output is row-for-row identical to the expression form (parity
    pinned by `test_minhash_lsh_arrow_expr_parity`).

    The DEFAULT stays ``"expr"`` after measuring both (guide §1.1
    "measure, don't guess"): the expression form is pure Catalyst, so
    its cached shingle/band frames are plan-equal across repeated
    constructions and every re-run (and every same-session consumer —
    cluster collapse, keep-best, v7) reuses them, giving a 2.9 s
    steady-state at sf0.1 vs 6.6 s for the kernel path, whose eager
    hot-code job and Python-function plans can never hit the JVM plan
    cache (measured: arrow cold 7.5 s / steady 6.6 s; expr cold 10.4 s /
    steady 2.9 s; `pipe_end_to_end_v7` 9.6 s expr vs 15.7+ s arrow).
    The kernel form remains the right shape where there is no reusable
    self-join state — the cross-set decon (`minhash_decon_pairs`,
    default arrow, 10.8 s -> 1.9 s) — and is kept selectable here for
    single-pass callers."""
    if impl == "arrow":
        from usgs_lidar_spark.operators import minhash_kernel as mk

        hot_b = None
        if max_df is not None:
            hot_b = mk.collect_hot_codes(df, text_col, id_col, k, max_df)
        # the candidate self-join consumes the band table twice — pin it
        # once (the expression form caches its long-form twin for the
        # same reason)
        band = mk.minhash_band_table(
            df, text_col, id_col, k, num_perm, bands, exclude=hot_b
        ).cache()
        l, r = band.alias("l"), band.alias("r")
        candidates = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.h") == F.col("r.h"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(
                F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
            )
            .distinct()
        )
        t = df.select(F.col(id_col), F.col(text_col))
        pairs = candidates.join(
            t.select(
                F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")
            ),
            "id_a",
        ).join(
            t.select(
                F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b")
            ),
            "id_b",
        )
        return mk.jaccard_verify_pairs(
            pairs, "id_a", "id_b", "text_a", "text_b", k,
            threshold=threshold, exclude=hot_b,
        )
    if impl != "expr":
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    rows_per_band = num_perm // bands
    # One shingle pass for the whole pipeline: signatures, per-doc sizes,
    # and candidate verification all reuse the cached (doc_id, shingle)
    # set — without this the explode+distinct+df-cap chain ran three times
    # (~3x6 s of the original 69 s at sf0.1).
    sh = char_shingles(df, text_col, id_col, k, max_df).cache()
    sig = sh.groupBy("doc_id").agg(*_mh_sig_exprs(num_perm))

    band_cols = [
        F.expr(
            "xxhash64("
            + ", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band))
            + f") AS band_{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    # (doc_id, band_idx, band_hash) long-form for the bucket equi-join.
    pairs_per_band = F.expr(_mh_band_struct_sql(bands, rows_per_band, False))
    # Cached: the candidate self-join references this subtree twice, and
    # Spark materializes each branch independently — without the cache the
    # whole 64-aggregate signature pipeline runs twice.
    longf = (
        banded.select("doc_id", F.explode(pairs_per_band).alias("bh"))
        .select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
        .cache()
    )

    l, r = longf.alias("l"), longf.alias("r")
    candidates = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .distinct()
    )
    # Verify ONLY the candidate pairs (semi-join them into the shingle
    # join) — the whole point of LSH is to never touch the all-pairs
    # space, so the verification step must not either. (First cut ran the
    # full exact-Jaccard join here: 163 s at sf0.1 vs ~15 s restricted.)
    # The candidate set is data-dependent (millions-to-billions of pairs
    # on a crawl-scale corpus), so it is NOT force-broadcast: these are
    # plain shuffle equi-joins and AQE broadcasts a side only when its
    # runtime size is actually small.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = sh.withColumnRenamed("doc_id", "id_a").join(candidates, "id_a")
    b_sh = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = a_sh.join(b_sh, ["id_b", "shingle"]).groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _minhash_band_long(
    sh: DataFrame, num_perm: int, bands: int
) -> DataFrame:
    """(doc_id, band, h) long-form band hashes from a (doc_id, shingle)
    frame: num_perm seeded-xxhash64 minima grouped per doc, hashed down
    to `bands` band keys of num_perm//bands signature rows each — the
    same construction `minhash_lsh_pairs` inlines, shared so cross-set
    consumers (decontamination) band IDENTICALLY to the self-join path.
    Callers cache the result if they consume it more than once."""
    rows_per_band = num_perm // bands
    sig = sh.groupBy("doc_id").agg(*_mh_sig_exprs(num_perm))
    band_cols = [
        F.expr(
            "xxhash64("
            + ", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band))
            + f") AS band_{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    pairs_per_band = F.expr(_mh_band_struct_sql(bands, rows_per_band, False))
    return (
        banded.select("doc_id", F.explode(pairs_per_band).alias("bh"))
        .select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    )


def minhash_decon_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.6,
    broadcast_bench: bool = True,
    impl: str = "arrow",
) -> DataFrame:
    """FUZZY benchmark decontamination: (corpus_id, bench_id, jaccard)
    for every corpus document NEAR-duplicating an eval/benchmark
    document (exact shingle Jaccard >= threshold) — the middle rung of
    the decon ladder between `pipeline.contaminated_docs` (verbatim
    shared n-grams) and the embedding-cosine semantic gate: it catches
    lightly-edited benchmark leakage (reformatted whitespace, a swapped
    sentence, an added header) that exact 13-gram matching under-counts
    and a semantic threshold over-flags.

    Plan shape: MinHash-band both sides with the SAME construction as
    `minhash_lsh_pairs` (shared `_minhash_band_long`), then equi-join
    corpus bands x benchmark bands — never corpus x corpus and never
    all-pairs; candidate pairs are verified with exact shingle Jaccard
    restricted to the candidate set, so the output has no LSH false
    positives, and with r=2/b=32 the probability of missing a J>=0.6
    pair is (1-0.36)^32 ~ 6e-7 (the `dedup_minhash_lsh` bound), so a
    DuckDB oracle can pin the output against the exact cross-set
    Jaccard join.

    Shingles are deliberately UNCAPPED on both sides (no max_df): a
    signature must be a pure function of the document's own text —
    capping by corpus-wide document frequency would make corpus and
    benchmark signatures disagree about which shingles exist (the
    `simhash64` rationale), and unlike the dedup SELF-join there is no
    sum(df^2) blowup to guard: every join here is keyed by band hash or
    restricted to candidates, linear in corpus size.

    Scale: the benchmark side of a real run is a few thousand eval
    documents — `broadcast_bench` (default) hints its band table
    (n_bench x bands rows of (id, band, h)) broadcast so the candidate
    join is map-side and the corpus never shuffles for it; past ~1e6
    eval docs drop the hint and let AQE decide. The verify joins move
    (candidate id, shingle) rows only.

    ``impl`` (optimization round 16, guide §4.2/§8): ``"arrow"``
    (default) fuses the whole operator into ONE corpus scan —
    `minhash_kernel.minhash_decon_inline` collects and bands the
    bounded benchmark side in the driver (the same budget the
    band-table broadcast already imposed), broadcasts it, and each
    corpus task bands its own docs with a BIT-EXACT NumPy reproduction
    of the xxhash64 construction, probes for candidates and
    exact-verifies them in place. Candidates and verified output are
    row-for-row identical to the expression form (parity pinned by
    `test_minhash_decon_arrow_expr_parity`); measured 10.8 s → ~1 s on
    the sf0.1 fuzzy-decon bench. ``"expr"`` keeps the pure-JVM
    banded-join form (`broadcast_bench` applies to it only)."""
    if impl == "arrow":
        from usgs_lidar_spark.operators.minhash_kernel import minhash_decon_inline

        return minhash_decon_inline(
            corpus, benchmark, text_col, id_col, k, num_perm, bands, threshold
        )
    if impl != "expr":
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    c_sh = char_shingles(corpus, text_col, id_col, k, max_df=None).cache()
    b_sh = char_shingles(benchmark, text_col, id_col, k, max_df=None).cache()
    c_long = _minhash_band_long(c_sh, num_perm, bands)
    b_long = _minhash_band_long(b_sh, num_perm, bands).select(
        F.col("doc_id").alias("bench_id"), "band", "h"
    )
    if broadcast_bench:
        b_long = F.broadcast(b_long)
    candidates = (
        c_long.join(b_long, ["band", "h"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    sizes_c = c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    sizes_b = b_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_b")
    ).withColumnRenamed("doc_id", "bench_id")
    cand_sh = c_sh.join(candidates, "doc_id")
    bench_sh = b_sh.select(F.col("doc_id").alias("bench_id"), "shingle")
    inter = (
        cand_sh.join(bench_sh, ["bench_id", "shingle"])
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes_c, "doc_id")
        .join(sizes_b, "bench_id")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "bench_id", "jaccard")
    )


def simhash64(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """64-bit SimHash fingerprint per document over char k-shingles.

    Bit j of the fingerprint is 1 iff the majority of the doc's shingle
    hashes have bit j set. Implemented as a groupBy with 64 conditional
    sums over xxhash64 bits — all JVM-side expressions.

    Shingles are deliberately UNCAPPED (max_df=None): a fingerprint must
    be a pure function of the document's own text, not of corpus-wide
    document frequencies, and the per-doc vote aggregation is linear —
    the df cap exists to bound shingle-JOIN blowup, a step simhash does
    not have (its join-side guard is simhash_near_dup_pairs'
    max_bucket).
    """
    sh = char_shingles(df, text_col, id_col, k, max_df=None)
    h = F.xxhash64(F.col("shingle"))
    votes = [
        F.sum(
            F.when(h.bitwiseAND(F.lit(1 << j).cast("long")) != 0, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(63)  # bit 63 (sign) excluded: keeps fingerprint >= 0
    ]
    agg = sh.groupBy("doc_id").agg(*votes)
    fp = F.lit(0).cast("long")
    for j in range(63):
        fp = fp + F.when(F.col(f"v_{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: all (id_a, id_b, hamming) with
    Hamming(simhash_a, simhash_b) <= max_hamming — WITHOUT an all-pairs
    comparison.

    Pigeonhole bucketing (the rotated-prefix scheme promised by the module
    docstring, in its contiguous-block form — Manku et al., WWW'07): split
    the 63-bit fingerprint into ``n_blocks`` contiguous blocks. A pair
    differing in at most ``max_hamming < n_blocks`` bits must agree
    EXACTLY on at least one block, so the equi-self-join on
    (block_index, block_value) finds every qualifying pair; popcount of
    the XOR then verifies, removing false positives. Shuffle is keyed by
    block values — at 100 TB each fingerprint contributes ``n_blocks``
    16-bit-ish rows, and only same-block candidates ever meet.

    ``max_bucket``: frequency cap on a (block, value) bucket — the analog
    of ``char_shingles``'s ``max_df``. With the default 4 blocks the block
    values are ~16-bit, so a 10^9-doc corpus puts ~15 K docs in an AVERAGE
    bucket (~10^8 candidate pairs per hot bucket before popcount verify) —
    a degenerate block value (e.g. all-zeros from short boilerplate docs)
    goes quadratic. The cap drops buckets with more than ``max_bucket``
    occupants via a spillable window COUNT before the self-join, bounding
    the worst key at max_bucket^2 pairs. Recall caveat: a pair whose ONLY
    agreeing block is capped is missed — same contract as max_df; raise
    ``n_blocks`` (narrower values, more blocks) to shrink buckets instead
    of capping when exact recall at max_hamming is required.
    """
    if max_hamming >= n_blocks:
        raise ValueError(
            f"pigeonhole needs max_hamming < n_blocks "
            f"(got {max_hamming} >= {n_blocks})"
        )
    fps = simhash64(df, text_col, id_col, k)
    return _simhash_block_pairs(fps, 63, max_hamming, n_blocks, max_bucket)


def _simhash_block_pairs(
    fps: DataFrame,
    n_bits: int,
    max_hamming: int,
    n_blocks: int,
    max_bucket: int | None,
) -> DataFrame:
    """Shared pigeonhole-block candidate join + popcount verify over a
    (doc_id, simhash) frame — used by both the xxhash64 and portable
    fingerprint families (the blocking math only needs the bit width)."""
    width = (n_bits + n_blocks - 1) // n_blocks
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("val"),
            )
            for b in range(n_blocks)
        ]
    )
    longf = fps.select(
        "doc_id", "simhash", F.explode(blocks).alias("bv")
    ).select("doc_id", "simhash", F.col("bv.blk").alias("blk"), F.col("bv.val").alias("val"))
    if max_bucket is not None:
        w = Window.partitionBy("blk", "val")
        longf = (
            longf.withColumn("__occ", F.count(F.lit(1)).over(w))
            .filter(F.col("__occ") <= max_bucket)
            .drop("__occ")
        )
    l, r = longf.alias("l"), longf.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.col("l.simhash").alias("__fa"),
            F.col("r.simhash").alias("__fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def levenshtein_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 40,
    block_cols: list[str] | None = None,
    bucket_width: int = 16,
) -> DataFrame:
    """Edit-distance near-duplicate pairs: (id_a, id_b, lev) for every
    pair with Levenshtein(text_a, text_b) <= max_distance — WITHOUT an
    all-pairs comparison, and with the distance itself computed JVM-side
    (built-in `levenshtein`, no Python).

    Blocking: two texts within edit distance d differ in length by at
    most d, so each document is bucketed by length // bucket_width and
    the LEFT side probes its own bucket and both neighbors ({b-1, b,
    b+1}); with bucket_width >= max_distance every qualifying pair
    shares a (block, probe) key and is produced exactly once (the probe
    expansion lives on one side only, and id_a < id_b orients the pair).
    With a smaller bucket_width the join is cheaper but pairs whose
    lengths differ by more than 2*bucket_width are missed — the standard
    blocking recall trade, stated instead of silent. ``block_cols`` adds
    exact-equality keys (e.g. language) that multiply blocking
    selectivity for free.

    Scale: the shuffle is keyed by (blocks, bucket) — 3 rows per doc on
    the probe side, 1 on the other; the quadratic surface is per-bucket
    and bounded by the length distribution, and the O(len^2) verify runs
    only on candidates. Complements the shingle family: Jaccard sees
    reordered content as similar, edit distance sees small in-place
    mutations (typos, template fills) that shingles over-penalize.
    """
    blocks = list(block_cols or [])
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        *[F.col(c) for c in blocks],
        F.floor(F.length(text_col) / bucket_width).alias("__b"),
    )
    probes = base.withColumn(
        "__probe",
        F.explode(
            F.array(F.col("__b") - 1, F.col("__b"), F.col("__b") + 1)
        ),
    )
    a, b = probes.alias("a"), base.alias("b")
    cond = (F.col("a.__probe") == F.col("b.__b")) & (
        F.col("a.__id") < F.col("b.__id")
    )
    for c in blocks:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    lev = F.levenshtein(F.col("a.__text"), F.col("b.__text"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            lev.alias("lev"),
        )
        .filter(F.col("lev") <= max_distance)
    )


def minhash_lsh_pairs_incremental(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    batch_col: str,
    k: int = 8,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.6,
    max_df: int | None = 20,
) -> DataFrame:
    """Incremental near-dup detection for streaming ingest: find every
    near-duplicate pair that INVOLVES the new batch (``batch_col`` is a
    boolean marking batch rows in ``docs``; the rest is the already-
    ingested corpus) — corpus x corpus pairs were found when those docs
    ingested and are never recomputed.

    The asymmetry is the point at scale: band hashes are built for all
    docs (in production the corpus's band table IS the persisted LSH
    index, appended per batch like similarity.ivf_append — the only
    per-batch signature work is the batch itself), but the candidate
    equi-join probes batch bands against the full band table, so its
    cost is ~|batch| x bucket occupancy instead of the full self-join's
    |corpus|^2 worst case. Corpus TEXT is touched only for docs that
    actually collide with a batch band (the verify semi-join) — cold
    history stays cold.

    Output: (id_a, id_b, jaccard, pair_type) with id_a < id_b and
    pair_type in {'corpus_batch', 'batch_batch'}; exact-Jaccard verified
    like minhash_lsh_pairs, so no false positives.
    """
    rows_per_band = num_perm // bands
    sh = char_shingles(docs, text_col, id_col, k, max_df).cache()
    flags = docs.select(
        F.col(id_col).alias("doc_id"), F.col(batch_col).alias("is_batch")
    )
    sig = sh.groupBy("doc_id").agg(*_mh_sig_exprs(num_perm))
    band_structs = F.expr(_mh_band_struct_sql(bands, rows_per_band, True))
    longf = (
        sig.select("doc_id", F.explode(band_structs).alias("bh"))
        .select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
        .join(flags, "doc_id")
        .cache()
    )
    probe = longf.filter(F.col("is_batch"))
    l, r = longf.alias("l"), probe.alias("r")
    candidates = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("id_a"),
            F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("id_b"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = sh.withColumnRenamed("doc_id", "id_a").join(candidates, "id_a")
    b_sh = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = a_sh.join(b_sh, ["id_b", "shingle"]).groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    fa = flags.select(F.col("doc_id").alias("id_a"), F.col("is_batch").alias("a_b"))
    fb = flags.select(F.col("doc_id").alias("id_b"), F.col("is_batch").alias("b_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .join(F.broadcast(fa), "id_a")
        .join(F.broadcast(fb), "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.when(F.col("a_b") & F.col("b_b"), "batch_batch")
            .otherwise("corpus_batch")
            .alias("pair_type"),
        )
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Substring-level duplicate detection: per document, how much of it
    is covered by token n-grams that also appear in other documents —
    the distributed approximation of suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): instead of exact maximal repeated substrings, every
    n-token window is a candidate and a window is "duplicated" when its
    n-gram occurs in >= min_docs distinct documents.

    Returns one row per input document:
      n_tokens, n_grams            — totals (0 for docs shorter than n)
      n_dup_grams                  — window positions whose gram is shared
      dup_tokens_covered           — tokens under the UNION of duplicated
                                     windows (overlaps counted once)
      dup_token_fraction           — covered / n_tokens (0.0 when empty)

    A 100 TB corpus feeds the gram stage as one shuffle keyed by the
    gram; the doc-frequency agg is a distinct-reduce (no fan-out), and
    duplicated positions come back via a SEMI join against the
    df>=min_docs gram set — fan-out exactly 1, so no join can explode
    regardless of how hot a boilerplate gram is (hot grams are the
    signal here, not skew to cap away — the opposite contract of
    char_shingles' max_df). Span coverage is a per-doc window over dup
    positions (monotone ends, so one running max suffices). At scale,
    swap the gram string for xxhash64(gram) to shuffle 8 bytes instead
    of ~n words — same plan shape (the string form stays the
    oracle-comparable default, as in exact_dedup vs exact_dedup_hashed).
    ``hash_grams=True`` IS that swap: the gram column becomes
    xxhash64(gram) right after construction, so the doc-frequency
    shuffle and the semi join move 8-byte keys; a (2^-64-rare) hash
    collision can only over-mark a window as duplicated, never lose
    one. Results are pinned equal to the string form by test.
    """
    from usgs_lidar_spark.functions.textstats import ws_tokens

    toks = df.select(
        F.col(id_col), ws_tokens(text_col).alias("__toks")
    ).withColumn("__n_tokens", F.size("__toks").cast("long"))

    n_positions = F.greatest(
        F.lit(0).cast("long"), (F.col("__n_tokens") - F.lit(n) + 1)
    )
    # sequence(1, stop) DESCENDS to [1, 0] when stop < 1 — docs shorter
    # than n must yield an empty position list, not position 0.
    positions = F.when(
        n_positions > 0, F.sequence(F.lit(1), n_positions.cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                positions,
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.concat_ws(
                        " ", F.slice("__toks", i, F.lit(n))
                    ).alias("gram"),
                ),
            )
        ).alias("__g"),
    ).select(id_col, F.col("__g.pos").alias("pos"), F.col("__g.gram").alias("gram"))
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))

    dup_grams = (
        grams.select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("gram")
    )
    dup_pos = grams.join(dup_grams, "gram", "left_semi")

    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end = F.col("pos") + F.lit(n) - 1
    prev_end = F.coalesce(F.max(F.col("pos") + F.lit(n) - 1).over(w_prev), F.lit(0))
    covered_add = F.greatest(
        F.lit(0).cast("long"), end - F.greatest(F.col("pos") - 1, prev_end)
    )
    per_doc_dup = (
        dup_pos.withColumn("__add", covered_add)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sum("__add").alias("dup_tokens_covered"),
        )
    )

    totals = toks.select(
        F.col(id_col),
        F.col("__n_tokens").alias("n_tokens"),
        n_positions.alias("n_grams"),
    )
    return (
        totals.join(per_doc_dup, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("dup_tokens_covered", F.lit(0))
            .cast("long")
            .alias("dup_tokens_covered"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce("dup_tokens_covered", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            )
            .alias("dup_token_fraction"),
        )
    )


def chunk_dedup_docs(
    docs: DataFrame,
    chunk_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document SPAN dedup with document reassembly — the
    "deduplicate repeated passages, keep the documents" pass (Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    approximated at fixed chunk granularity): split every document into
    non-overlapping ``chunk_tokens`` windows, keep each distinct chunk
    text ONLY at its first corpus occurrence (smallest (doc_id,
    chunk_id)), and rebuild each document from its surviving chunks in
    order.

    Scale shape: chunks group by their sha256 DIGEST, not their text —
    the winner-election shuffle carries 64-hex-char keys plus an
    8+8-byte position struct per chunk, never the corpus bytes (the
    same digests-move-text-doesn't doctrine as `exact_dedup_hashed`).
    Election is min(struct(doc_id, chunk_id)) — a map-side-combinable
    aggregate, no window sort. The keep-join is digest-equi
    (AQE-broadcast when the winner set is small); reassembly shuffles
    once on doc_id and concatenates a sort_array'd collect_list —
    per-doc state is the doc's own surviving chunks, spillable.
    sha256 is collision-free for dedup purposes and reproducible in
    ANSI engines (DuckDB sha256()), so the whole pass is oracle-able.

    Returns (doc_id, n_chunks, n_kept, new_text) for every input doc:
    empty docs and docs whose every chunk lost election come back with
    n_kept=0 and new_text='' — a curation pass must account for every
    row in = row out.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    from usgs_lidar_spark.operators.textquality import chunk_documents

    chunks = chunk_documents(
        docs, chunk_tokens=chunk_tokens, stride=chunk_tokens,
        id_col=id_col, text_col=text_col,
    ).select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        F.sha2(F.col("chunk_text"), 256).alias("__d"),
    )
    winners = chunks.groupBy("__d").agg(
        F.min(F.struct("doc_id", "chunk_id")).alias("__win")
    )
    kept = (
        chunks.join(winners, "__d")
        .filter(
            (F.col("doc_id") == F.col("__win.doc_id"))
            & (F.col("chunk_id") == F.col("__win.chunk_id"))
        )
        .select("doc_id", "chunk_id", "chunk_text")
    )
    per_doc_total = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks")
    )
    per_doc_kept = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("new_text"),
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(per_doc_total, "doc_id", "left")
        .join(per_doc_kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def chunk_dedup_incremental(
    batch: DataFrame,
    seen_digests: DataFrame,
    chunk_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming-ingest companion to `chunk_dedup_docs`: passage-dedup
    an INCOMING batch against an already-ingested corpus represented by
    its chunk DIGESTS only. Batch chunks whose sha256 already exists in
    ``seen_digests`` drop (the passage was published before); the
    remainder run the same within-batch first-occurrence election, and
    batch docs reassemble from their surviving chunks.

    ``seen_digests`` is a single-column (digest) frame — at 100 TB a
    persisted digest table maintained by previous ingests, so each new
    batch costs one digest-keyed anti-join (64-hex keys, historical
    text never moves — the `exact_dedup_incremental` doctrine at chunk
    granularity) plus the batch-sized election and reassembly.

    Returns (doc_id, n_chunks, n_kept, new_text) for every batch doc,
    plus the digests this batch ADDS (callers append
    `chunk_digests(kept)` to the store) — here just the report; use
    `chunk_digests` on the batch to advance the store.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    from usgs_lidar_spark.operators.textquality import chunk_documents

    chunks = chunk_documents(
        batch, chunk_tokens=chunk_tokens, stride=chunk_tokens,
        id_col=id_col, text_col=text_col,
    ).select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        F.sha2(F.col("chunk_text"), 256).alias("__d"),
    )
    seen = seen_digests.select(F.col("digest").alias("__d")).distinct()
    fresh = chunks.join(seen, "__d", "left_anti")
    winners = fresh.groupBy("__d").agg(
        F.min(F.struct("doc_id", "chunk_id")).alias("__win")
    )
    kept = (
        fresh.join(winners, "__d")
        .filter(
            (F.col("doc_id") == F.col("__win.doc_id"))
            & (F.col("chunk_id") == F.col("__win.chunk_id"))
        )
        .select("doc_id", "chunk_id", "chunk_text")
    )
    per_doc_total = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks")
    )
    per_doc_kept = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("new_text"),
    )
    base = batch.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(per_doc_total, "doc_id", "left")
        .join(per_doc_kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def chunk_digests(
    docs: DataFrame,
    chunk_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The (digest) frame a chunk-dedup ingest appends to its store:
    distinct sha256 of every non-overlapping chunk in ``docs``. Kept
    as its own operator so the store schema is one canonical column
    (`digest`) on both the build and probe sides."""
    from usgs_lidar_spark.operators.textquality import chunk_documents

    return (
        chunk_documents(
            docs, chunk_tokens=chunk_tokens, stride=chunk_tokens,
            id_col=id_col, text_col=text_col,
        )
        .select(F.sha2(F.col("chunk_text"), 256).alias("digest"))
        .distinct()
    )


def simhash_portable(
    docs: DataFrame,
    n_bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """SimHash with a PORTABLE hash family — the oracled sibling of
    `simhash64`: bit j of a token's signature is the parity of the
    two-round Lehmer hash of (token polyhash, j), so the whole
    fingerprint is reproducible in ANSI SQL (and therefore carries the
    hard value-hash oracle the xxhash64 form cannot — that one is
    golden-pinned by necessity, this one by nothing). Bit j of the
    DOCUMENT is the majority sign over its token slots; ties (sum 0)
    resolve to 0.

    Shape: explode tokens -> hash once per token -> a literal-sequence
    transform emits the n_bits ±1 cells inside codegen -> one
    (doc, bit)-keyed map-combined aggregate -> one doc-keyed fold to
    the fingerprint. Rows on the wire: n_bits per (doc, bit) partial —
    never corpus text.

    Returns (doc_id, simhash) with simhash in [0, 2^n_bits); empty
    docs fingerprint to 0 (kept — row in = row out).
    """
    if not 1 <= n_bits <= 62:
        raise ValueError(f"n_bits must be in [1, 62], got {n_bits}")
    from usgs_lidar_spark.functions.textstats import ws_tokens
    from usgs_lidar_spark.operators.pipeline import portable_hash_long
    from usgs_lidar_spark.operators.textquality import _FEAT_MOD

    tok = ws_tokens(text_col)
    if lowercase:
        tok = F.transform(tok, F.lower)
    hashed = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tok).alias("__w")
    ).select(
        "doc_id",
        F.expr(
            f"aggregate(transform(sequence(1, length(__w)), "
            f"i -> CAST(ascii(substring(__w, i, 1)) AS BIGINT)), "
            f"CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % {_FEAT_MOD})"
        ).alias("__h"),
    )
    cells = hashed.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bits - 1)),
                lambda j: F.struct(
                    j.cast("long").alias("bit"),
                    F.when(
                        portable_hash_long(F.col("__h") * F.lit(67) + j) % 2
                        == 1,
                        F.lit(1),
                    )
                    .otherwise(F.lit(-1))
                    .cast("long")
                    .alias("v"),
                ),
            )
        ).alias("c"),
    )
    bits = (
        cells.groupBy("doc_id", F.col("c.bit").alias("bit"))
        .agg(F.sum("c.v").alias("__s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                # expr form: pyspark's shiftleft binding takes a Python
                # int for numBits, not a Column
                F.expr(
                    "CASE WHEN __s > 0 THEN "
                    "shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)) "
                    "ELSE CAST(0 AS BIGINT) END"
                )
            )
            .cast("long")
            .alias("simhash")
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(bits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("simhash", F.lit(0)).cast("long").alias("simhash"),
    )


def simhash_portable_near_dup_pairs(
    docs: DataFrame,
    n_bits: int = 32,
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_bucket: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs over the PORTABLE SimHash family
    (`simhash_portable`) — the same Manku-style pigeonhole blocking as
    `simhash_near_dup_pairs` (agree exactly on >= 1 of n_blocks blocks
    when Hamming < n_blocks, popcount-verify candidates, never
    all-pairs), but with fingerprints ANSI SQL can reproduce, so the
    whole detector sits under the hard oracle (exact all-pairs Hamming
    in DuckDB at verification scale) instead of a golden pin."""
    if max_hamming >= n_blocks:
        raise ValueError(
            f"pigeonhole needs max_hamming < n_blocks "
            f"(got {max_hamming} >= {n_blocks})"
        )
    fps = simhash_portable(
        docs, n_bits=n_bits, text_col=text_col, id_col=id_col
    )
    return _simhash_block_pairs(fps, n_bits, max_hamming, n_blocks, max_bucket)
