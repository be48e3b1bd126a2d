"""Training-data pipeline operators: deterministic splits, stratified
sampling, benchmark-contamination checks, and sequence packing.

These are the corpus-management steps an LLM data pipeline runs between
dedup and tokenization. All four are pure DataFrame compositions — no
UDFs, no collects — and each is oracle-checked in plans/queries.py.

Scale notes (100 TB):
  * split/sample are stateless row-local hashing — map-only, no shuffle;
  * contamination is one equi-join keyed by shingle (benchmark side is
    tiny → AQE broadcasts it) plus bounded aggregates;
  * packing is one shuffle on the stream key + a running-sum window —
    state per group is a single counter, spillable, never a collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Lehmer / MINSTD multiplier and modulus for the portable hash.
_LEHMER_A = 48271
_LEHMER_M = 2147483647  # 2^31 - 1 (prime)

#: Bucket resolution for split fractions (1 bucket = 0.01%).
N_BUCKETS = 10000


def portable_hash_long(id_col: Column | str, seed: int = 0) -> Column:
    """Full-range deterministic hash in [0, 2^31-1): the same two Lehmer
    rounds as `portable_hash_bucket` WITHOUT the final bucket fold — the
    total-order key the global shuffle needs (10k buckets would collide
    constantly; the full range makes (key, id) an effectively random yet
    reproducible total order on any engine with 64-bit integers)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    x = F.pmod(
        F.pmod(c.cast("long"), F.lit(_LEHMER_M)) + F.lit(1 + seed),
        F.lit(_LEHMER_M),
    )
    for _ in range(2):
        x = (x * F.lit(_LEHMER_A)) % F.lit(_LEHMER_M)
    return x


def portable_hash_long_sql(id_sql: str, seed: int = 0) -> str:
    """`portable_hash_long` as Spark SQL text over the SQL expression
    ``id_sql``: the same analyzed tree (sameResult-pinned through
    `copurchase_edges` in tests/test_sqlbuild_parity.py)."""
    x = f"pmod(pmod(CAST({id_sql} AS BIGINT), {_LEHMER_M}) + {1 + seed}, {_LEHMER_M})"
    for _ in range(2):
        x = f"(({x}) * {_LEHMER_A}) % {_LEHMER_M}"
    return x


def portable_hash_bucket(id_col: Column | str, seed: int = 0) -> Column:
    """Deterministic bucket in [0, N_BUCKETS) from an integer id.

    Two Lehmer rounds (x -> a*x mod 2^31-1, a=48271 — the MINSTD
    generator): portable to ANY SQL engine with 64-bit integers (the
    intermediate product is < 2^47, no overflow anywhere), so the same
    row lands in the same split in Spark, DuckDB, or a warehouse —
    reproducibility across engines is the point of a split column.
    Spark's xxhash64 would have better avalanche but exists nowhere else.
    """
    # pmod, not %: Spark's % follows the dividend's sign, so negative ids
    # would produce negative buckets that compare below every threshold
    # (all-train splits, always-kept samples). Reduce the id mod M BEFORE
    # adding the seed offset: id + 1 + seed on a raw long near Long.MAX
    # would overflow (an error under ANSI mode, a silent wrap otherwise —
    # and a mismatch vs any oracle computing in wider arithmetic). After
    # the first pmod every intermediate stays in [0, M).
    return portable_hash_long(id_col, seed) % F.lit(N_BUCKETS)


def split_by_hash(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by deterministic id-hash.

    ``weights`` maps split name -> fraction (must sum to ~1); assignment
    is stable under any repartitioning/insertion order because it depends
    only on the id — the property `df.randomSplit` does NOT have across
    reruns or engines. Map-only: no shuffle at any scale.

    Rows with a NULL id get a NULL split (visible and filterable) rather
    than being silently concentrated into one split.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = portable_hash_bucket(id_col, seed)
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < int(round(acc * N_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn(
        split_col, F.when(bucket.isNotNull(), expr)
    )


def sample_stratified(
    df: DataFrame,
    id_col: str,
    fraction: float,
    seed: int = 0,
) -> DataFrame:
    """Deterministic ~`fraction` sample: keep rows whose hash bucket falls
    below fraction*N_BUCKETS. Stratification is free — the rule depends
    only on the id, so within ANY stratum the kept share tends to
    `fraction` and membership is reproducible (unlike df.sample).
    NULL-id rows are dropped (the comparison is null)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return df.filter(
        portable_hash_bucket(id_col, seed) < int(round(fraction * N_BUCKETS))
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_df: int | None = 20,
    min_frac: float = 0.2,
    max_df_frac: float | None = None,
    unit: str = "char",
) -> DataFrame:
    """Benchmark-contamination check: flag corpus documents sharing too
    many k-shingles with any benchmark/eval document. ``unit`` picks the
    shingle alphabet: "char" (character k-grams — near-verbatim BYTES,
    the default) or "token" (whitespace-token k-grams, the GPT-3-lineage
    decontamination unit: Brown et al. 2020 appendix C flags 13-gram
    overlap — verbatim PHRASES robust to whitespace/formatting drift).

    Output: (id, n_shingles, n_hit, hit_frac) for every corpus doc with
    at least one shared shingle and hit_frac >= min_frac.

    Pipeline: shingle both sides (df-capped on the corpus side — a
    stop-shingle shared with a benchmark doc is not contamination
    evidence), distinct benchmark shingle set, one equi-join keyed by
    shingle, bounded count aggregates. The benchmark side of a real run
    is a few thousand eval documents — AQE broadcasts it; nothing here
    is proportional to corpus x benchmark (the join itself is linear in
    corpus, so unlike the dedup self-joins the cap here is purely an
    evidence-quality filter, not a blowup guard).

    ``max_df_frac``: scale-stable alternative to the absolute cap —
    "drop shingles present in more than this FRACTION of shingle-bearing
    corpus docs". An absolute cap silently tightens as the corpus grows:
    measured at 10x corpus (tools/sf1_bench.py), max_df=20 cut flagged
    docs 1194 -> 501 because shingle dfs scale with corpus size while
    the cap doesn't. Set the fraction when the corpus size varies across
    runs; overrides ``max_df`` when given.

    The fraction resolves WITHOUT a second corpus pass OR a driver
    collect — see ``dedup.char_shingles(max_df_frac=...)``, where the
    lazy one-row-broadcast idiom now lives (pinned distinct pairs, the
    denominator riding a broadcast crossJoin into the cap comparison;
    corpus text is scanned exactly once end to end).
    """
    from usgs_lidar_spark.operators.dedup import char_shingles, token_shingles

    if unit == "char":
        def sh(d, cap_df, cap_frac, impl="expr"):
            return char_shingles(
                d, text_col, id_col, k=k, max_df=cap_df,
                max_df_frac=cap_frac, impl=impl,
            )
    elif unit == "token":
        def sh(d, cap_df, cap_frac, impl="expr"):
            return token_shingles(
                d, text_col, id_col, n=k, max_df=cap_df, max_df_frac=cap_frac
            )
    else:
        raise ValueError(
            f"unit must be 'char' or 'token', got {unit!r}"
        )
    # The fractional cap (and its zero-extra-pass resolution) lives in
    # the shingle builders themselves since round 11 — shared by every
    # shingle consumer (Jaccard pairs, the overlap matrix, this check).
    # The CORPUS side — the expensive one, consumed once — takes the
    # Arrow shingle kernel on the char path (optimization round 17,
    # guide §4.2; row-identical, see char_shingles impl="kernel"); the
    # benchmark side is a few thousand docs by contract and keeps the
    # expression form (a second kernel would cost more in Python worker
    # round-trips than it saves).
    c_sh = sh(corpus, max_df, max_df_frac, impl="kernel" if unit == "char" else "expr")
    b_sh = (
        sh(benchmark, None, None)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # One pass over the (expensive, df-cap-windowed) corpus shingles:
    # a left join marks benchmark hits, then a single aggregate produces
    # both counts — instead of re-executing the shingle lineage for a
    # separate sizes aggregate plus a third join.
    return (
        c_sh.join(b_sh, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_hit"),
        )
        .filter(F.col("n_hit") > 0)
        .withColumn(
            "hit_frac", F.col("n_hit").cast("double") / F.col("n_shingles")
        )
        .filter(F.col("hit_frac") >= F.lit(min_frac))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: Column | str,
    budget: int,
    stream_col: str | None = None,
    n_streams: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Streaming sequence packing: concatenate documents (in deterministic
    id order, per stream) into fixed token-budget packs, GPT-pretraining
    style — a document whose tokens straddle a pack boundary is split
    across packs (flagged), nothing is padded or dropped.

    Adds: token_start (offset in the stream), pack_id (the pack where the
    doc BEGINS: floor(token_start/budget)), pack_offset, split_across.
    With no ``stream_col`` a ``pack_stream`` column is added too (see
    below) — (pack_stream, pack_id) is then the pack's identity.

    One shuffle (on the stream key) + a running-sum window whose state is
    a single counter per group — spillable and scale-safe because SOME
    key always partitions the work: a caller-supplied ``stream_col``
    (lang, split, shard — pack boundaries then follow that grouping), or
    by default ``n_streams`` deterministic Lehmer-hash buckets of
    ``id_col`` (engine-portable, ANSI-SQL-reproducible: the same doc
    lands in the same stream at the same offset on any engine). The
    pre-round-6 default was a GLOBAL window — a single-task sort that a
    runtime warning can't make scale-safe; callers who truly want one
    totally-ordered stream say so with ``n_streams=1`` (explicitly
    accepting the single task). First-fit bin packing would be
    sequential; boundary-splitting is both the scalable form and what
    pretraining loaders actually do.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_streams <= 0:
        raise ValueError(f"n_streams must be positive, got {n_streams}")
    toks = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    ).cast("long")
    if stream_col is None:
        stream_col = "pack_stream"
        df = df.withColumn(
            stream_col, portable_hash_long(id_col, seed) % F.lit(n_streams)
        )
    w = Window.partitionBy(stream_col).orderBy(id_col)
    end = F.sum(toks).over(w)
    start = end - toks
    pack = F.floor(start / F.lit(budget)).cast("long")
    return df.select(
        "*",
        toks.alias("n_tokens"),
        start.alias("token_start"),
        pack.alias("pack_id"),
        (start % F.lit(budget)).alias("pack_offset"),
        (end > (pack + 1) * F.lit(budget)).alias("split_across"),
    )


def split_by_group(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float] | None = None,
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe splits: EVERY row sharing ``group_col`` (a string key —
    source domain, author, repository) lands in the same split, so near-
    duplicate documents from one origin can't straddle train and test.

    The group key is reduced to an integer with the engine's rolling-hash
    fingerprint (functions/textstats.fingerprint — ANSI-SQL-reproducible)
    and then routed through the same portable Lehmer bucketing as
    split_by_hash. Still map-only: no shuffle, no group materialization.
    """
    from usgs_lidar_spark.functions.textstats import fingerprint

    return split_by_hash(
        df, fingerprint(group_col), weights=weights, seed=seed, split_col=split_col
    )


def sample_weighted(
    df: DataFrame,
    id_col: str,
    weight_col: Column | str,
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted Bernoulli sample: row kept iff its hash
    bucket falls below weight * N_BUCKETS, so a row with weight 0.9 is
    kept with probability ~0.9 and weight >= 1 is always kept —
    quality-score-proportional curation that is reproducible across
    engines and reruns (df.sample can do none of this). Map-only.
    Weights are clamped to [0, 1]; NULL weights drop the row."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    clamped = F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0))
    return df.filter(
        portable_hash_bucket(id_col, seed) < clamped * F.lit(N_BUCKETS)
    )


def cap_tokens_per_group(
    df: DataFrame,
    id_col: str,
    token_count_col: Column | str,
    group_col: str,
    max_tokens_per_group: int,
) -> DataFrame:
    """Data-mixing quota: keep documents (in deterministic id order) until
    each group's running token total reaches the cap, then drop the rest
    of that group — bounding any one source/domain's contribution to the
    corpus mix. A document that would cross the cap is dropped entirely
    (no partial docs). One shuffle + running-sum window; the per-group
    state is a single counter."""
    if max_tokens_per_group <= 0:
        raise ValueError(
            f"max_tokens_per_group must be positive, got {max_tokens_per_group}"
        )
    toks = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    ).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__cum", F.sum(toks).over(w))
        .filter(F.col("__cum") <= max_tokens_per_group)
        .drop("__cum")
    )


def global_shuffle(
    df: DataFrame, id_col: str, n_shards: int, seed: int = 0
) -> DataFrame:
    """Deterministic corpus shuffle for training order: every row gets a
    reproducible pseudo-random sort key, a shard, and its position within
    the shard — the step that turns a curated corpus into shuffled
    training shards WITHOUT `orderBy(rand())` (irreproducible, and a
    global sort besides).

    Columns added: `shard` = key mod n_shards, `shard_pos` = rank within
    the shard under the (key, id) total order. One shuffle keyed by
    shard; each shard orders independently (no global sort barrier), so
    shards write out in parallel at any corpus size — and the whole
    assignment is a pure function of (id, seed): the same corpus yields
    the same shards on any engine, rerun, or partitioning.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    key = portable_hash_long(id_col, seed)
    w = Window.partitionBy("shard").orderBy("__key", id_col)
    return (
        df.withColumn("__key", key)
        .withColumn("shard", (F.col("__key") % n_shards).cast("int"))
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .drop("__key")
    )


def exact_dedup_incremental(
    batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seen_text_col: str | None = None,
) -> DataFrame:
    """Exact dedup of an INCOMING batch against an already-ingested
    corpus: drop batch docs whose content already exists in `seen`, then
    collapse exact duplicates within the batch itself (keep the minimum
    id, count the copies).

    This is the streaming-ingest companion to `exact_dedup`: the
    historical corpus is represented by its content hashes only (md5 —
    reproducible in ANSI SQL, unlike xxhash64, so the whole operator is
    oracle-checkable), meaning the anti-join shuffles 16-byte digests,
    never historical text. At 100 TB the `seen` side is a persisted
    hash table maintained by previous ingests; each new batch costs one
    anti-join keyed by digest plus one batch-sized aggregate.
    """
    bh = batch.withColumn("__h", F.md5(F.col(text_col)))
    sh = (
        seen.select(F.md5(F.col(seen_text_col or text_col)).alias("__h"))
        .distinct()
    )
    return (
        bh.join(sh, "__h", "left_anti")
        .groupBy("__h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__h")
    )


def resample_to_mix(
    df: DataFrame,
    group_col: str,
    weights: dict[str, int],
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Downsample groups to a target mix (data mixing for training runs):
    given integer weights per group (e.g. {'en': 6, 'de': 2, 'fr': 1} =
    target shares 6/9, 2/9, 1/9), keep the LARGEST subset whose group
    proportions hit the target exactly in integer arithmetic — never
    upsampling, never exceeding any group's population. Groups without a
    weight are dropped.

    Math (all integer, so identical on any engine): with W = sum of
    weights, the achievable total is M = min_g floor(n_g * W / w_g)
    (the most-constraining group binds), and each group keeps its first
    k_g = floor(w_g * M / W) rows in the deterministic pseudo-random
    order (portable_hash_long(id, seed), id).

    Scale: the per-group counts and the (k_g) table are group-cardinality
    sized (broadcast); selection is one rank window per group — a
    spillable sort of each group's rows, shuffled once on the group key.
    For corpora where even a per-group sort is unwanted, the hash-
    threshold approximation (keep if bucket < k_g/n_g * N_BUCKETS, cf.
    sample_stratified) trades exact counts for a map-only plan; this
    exact form is the one whose output a mix report can assert on.
    """
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of positive ints")
    total_w = sum(weights.values())
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        list(weights.items()), f"{group_col} string, _w long"
    )
    counts = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(F.broadcast(wdf), group_col)
    )
    m = counts.agg(
        F.min(F.floor(F.col("_n") * total_w / F.col("_w"))).alias("_m")
    )
    quota = (
        counts.crossJoin(F.broadcast(m))
        .select(
            group_col,
            F.floor(F.col("_w") * F.col("_m") / total_w).alias("_k"),
        )
    )
    order = [portable_hash_long(id_col, seed).asc(), F.col(id_col).asc()]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.join(F.broadcast(quota), group_col)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_k"))
        .drop("_rk", "_k")
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_stages: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Deterministic curriculum schedule: rows binned into ``n_stages``
    difficulty stages by an integer score (equal-width bins between the
    global min and max), shuffled WITHIN each stage by the portable
    Lehmer hash, and given an interleaved global step so a trainer
    reading in ``global_step`` order sees a stable round-robin mix of
    stages (stage s contributes its pos-th row at step
    pos * n_stages + s; stages that exhaust early leave gaps — readers
    consume in step order, not by dense index).

    Everything is reproducible on any engine and any partitioning:
    binning is integer arithmetic against two broadcast scalars (global
    min/max ride a one-row crossJoin — no driver collect), the shuffle
    key is the seeded MINSTD hash (same two-round form as
    ``split_by_hash``), and the only shuffle is the per-stage window
    (n_stages-way parallel; for stages too big for one reducer, the
    documented remedy is sub-salting the stage window and offsetting —
    same as the salted aggregations).

    Returns (id, score, stage, shuffle_key, stage_pos, global_step).
    """
    stats = df.agg(
        F.min(F.col(score_col).cast("long")).alias("__mn"),
        F.max(F.col(score_col).cast("long")).alias("__mx"),
    )
    b = df.crossJoin(F.broadcast(stats))
    stage = F.expr(
        f"((CAST({score_col} AS BIGINT) - __mn) * {n_stages}) div (__mx - __mn + 1)"
    )
    # guard: score == mx lands exactly on n_stages only when width divides
    # evenly; least() keeps the top edge in the last stage.
    stage = F.least(stage, F.lit(n_stages - 1)).cast("long")
    keyed = b.select(
        F.col(id_col),
        F.col(score_col),
        stage.alias("stage"),
        portable_hash_long(id_col, seed).alias("shuffle_key"),
    )
    w = Window.partitionBy("stage").orderBy("shuffle_key", id_col)
    return keyed.withColumn(
        "stage_pos", (F.row_number().over(w) - 1).cast("long")
    ).withColumn(
        "global_step",
        (F.col("stage_pos") * n_stages + F.col("stage")).cast("long"),
    )


def filter_above_group_median(
    df: DataFrame,
    group_col: str,
    score_col: str,
    keep: str = "above",
) -> DataFrame:
    """Keep rows whose integer score is >= (``keep='above'``) or <
    their group's EXACT median — the per-language quality-pruning step
    of a corpus pipeline ("drop the bottom half of each language by
    quality") with a deterministic, engine-reproducible threshold.

    The median is exact (`percentile` over long values — midpoints of
    two longs are exactly representable doubles, so Spark and any SQL
    engine agree bit-for-bit). Plan: one per-group aggregate (tiny
    result, one row per group) joined back onto the scan — AQE
    broadcasts it for dimension-sized group counts, so the corpus
    shuffles nothing; per-group exact percentile does sort each group's
    values once, the documented cost of exactness vs the
    approx_percentile sketch.
    """
    med = df.groupBy(group_col).agg(
        F.percentile(F.col(score_col).cast("long"), F.lit(0.5)).alias(
            "__median"
        )
    )
    j = df.join(med, group_col)
    cond = (
        F.col(score_col).cast("double") >= F.col("__median")
        if keep == "above"
        else F.col(score_col).cast("double") < F.col("__median")
    )
    return j.filter(cond).withColumnRenamed("__median", "group_median")


def priority_sample_k_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """EXACT-k weight-proportional sampling per group — priority sampling
    (Duffield, Lund, Thorup): each row gets priority u / w with u a
    deterministic uniform in (0,1) from the seeded MINSTD hash, and the
    k LOWEST priorities per group win. Higher weight => smaller expected
    priority => proportionally higher inclusion odds, with exactly k
    survivors per group (fewer only when the group is smaller than k) —
    the quota form `sample_weighted`'s Bernoulli thinning cannot give.

    Determinism: u = (hash + 0.5) / M and priority = u / w are two
    IEEE divisions of exactly-representable operands — correctly
    rounded, so identical in any engine, and ties (impossible unless
    (hash, w) collide) break by id. One rank window per group; rows
    with NULL or non-positive weight are excluded up front (visible,
    not silently kept)."""
    u = (portable_hash_long(id_col, seed).cast("double") + F.lit(0.5)) / F.lit(
        float(_LEHMER_M)
    )
    w = F.col(weight_col).cast("double")
    eligible = df.filter(w.isNotNull() & (w > 0))
    prio = (u / w).alias("priority")
    keyed = eligible.withColumn("priority", prio)
    win = Window.partitionBy(group_col).orderBy("priority", id_col)
    return (
        keyed.withColumn("sample_rank", F.row_number().over(win).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def mixture_schedule(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted interleave across sources — the mixing
    schedule LLM training uses ("2 parts web to 1 part code"), as an
    ORDERING rather than a downsample (pipe_target_mix drops rows to
    hit a mix; this keeps everything and schedules consumption).

    Each source's rows are MINSTD-shuffled, then row r of a source with
    weight w gets priority (r + 0.5) / w — weighted fair queueing:
    reading in priority order consumes sources proportionally to their
    weights at every prefix, deterministically (one IEEE division of
    exact operands; ties broken by id). A source exhausts when its rows
    run out and the others continue at their relative rates — the
    standard epoch-boundary behavior.

    One rank window per source (parallel across sources; sub-salt a
    gigantic source the same way the salted aggregates do), then the
    priority is a map-side expression. Rows from sources missing in
    ``weights`` are excluded visibly (a mixture that silently inherits
    weight 1.0 is a config bug, not a default).

    Returns (id, source, src_pos, priority) — consumers sort by
    (priority, id); materializing a global position is one extra
    global-ordering window the caller can add when it truly needs it.
    """
    entries = [(k, float(v)) for k, v in weights.items()]
    if not entries or any(v <= 0 for _, v in entries):
        raise ValueError("weights must be a non-empty map of positive floats")
    wmap = F.create_map(
        *[x for k, v in entries for x in (F.lit(k), F.lit(v))]
    )
    eligible = df.filter(F.col(source_col).isin([k for k, _ in entries]))
    win = Window.partitionBy(source_col).orderBy(
        portable_hash_long(id_col, seed), id_col
    )
    keyed = eligible.withColumn(
        "src_pos", (F.row_number().over(win) - 1).cast("long")
    ).withColumn(
        "priority",
        (F.col("src_pos").cast("double") + F.lit(0.5))
        / wmap[F.col(source_col)],
    )
    return keyed.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        "src_pos",
        "priority",
    )


def negative_samples(
    docs: DataFrame,
    anchors: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic pseudo-random NEGATIVE sampling for contrastive /
    embedding training pairs: each anchor receives up to ``k`` corpus
    documents chosen by a hash ring — reproducible on any engine, on
    any partitioning, with no cross join and no corpus-sized per-anchor
    work.

    The ring: every doc gets a dense position 1..n under the
    (portable Lehmer hash, id) total order — computed with
    `global_rank`, so there is NO single-task window at any corpus
    size. Each anchor then probes positions
    ``lehmer(anchor*1000003 + i, seed+1) mod n`` for i = 1..k and the
    probe joins back to the ring on position (one equi-join keyed on
    the ring position; the probe side is |anchors|*k rows).

    Deterministic contract: the output SET is a pure function of
    (corpus ids, anchor ids, k, seed). Probe collisions collapse via
    DISTINCT and an accidental self-hit is dropped, so an anchor may
    receive fewer than k negatives with probability O(k^2/n) — the
    standard hash-ring trade, replayed identically by the SQL oracle.
    Returns (anchor_id, neg_id)."""
    from usgs_lidar_spark.operators.ranking import global_rank

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    ring = global_rank(
        docs.select(
            F.col(id_col).alias("neg_id"),
            portable_hash_long(F.col(id_col), seed).alias("__hkey"),
        ),
        ["__hkey", "neg_id"],
        rank_col="__pos",
    ).select("neg_id", "__pos")
    n_row = ring.agg(F.count(F.lit(1)).alias("__n"))
    probes = (
        anchors.select(F.col(id_col).alias("anchor_id"))
        .crossJoin(F.broadcast(n_row))
        # Empty corpus: n = 0 must yield zero probes BEFORE the pmod
        # below evaluates (ANSI mode raises on mod-by-zero).
        .filter(F.col("__n") > 0)
        .select(
            "anchor_id",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("__i"),
            "__n",
        )
        .select(
            "anchor_id",
            (
                F.pmod(
                    portable_hash_long(
                        F.col("anchor_id") * F.lit(1000003) + F.col("__i"),
                        seed + 1,
                    ),
                    F.col("__n"),
                )
                + 1
            ).alias("__pos"),
        )
    )
    return (
        probes.join(ring, "__pos")
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_id")
        .distinct()
    )


def temperature_mix_sqrt(
    docs: DataFrame,
    budget: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-based source mixing at T = 2 (alpha = 1/2): each
    group's sampling quota is proportional to sqrt(group size) — the
    classic training-data recipe that upweights tail sources relative
    to proportional sampling without flattening to uniform.

    Exactness discipline: the weight is ``floor(sqrt(n) * 2^20)`` as
    BIGINT — sqrt is a correctly-rounded IEEE op and the power-of-two
    multiply + floor adds no rounding decision (`quantize_exact`'s
    argument), so weights, the integer quota
    ``budget * w div sum(w)``, and therefore the SELECTED SET are
    bit-reproducible in any engine. Selection within a group is the
    deterministic Lehmer order (hash, id) with row_number <= quota —
    one partitioned window, parallel across groups. Quotas sum to at
    most ``budget`` (integer-division truncation, documented).

    Returns the per-group report (group, n_docs, quota, n_kept,
    kept_id_sum) — kept_id_sum pins the selected set itself, not just
    its size, for cross-engine verification."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    sizes = docs.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    weights = sizes.withColumn(
        "__w",
        F.floor(F.sqrt(F.col("__n").cast("double")) * F.lit(float(2**20)))
        .cast("long"),
    )
    tot = weights.agg(F.sum("__w").alias("__wsum"))
    quotas = weights.crossJoin(F.broadcast(tot)).select(
        "__g",
        "__n",
        F.expr(f"CAST({budget} AS BIGINT) * __w div __wsum").alias("__q"),
    )
    w = Window.partitionBy(group_col).orderBy(
        portable_hash_long(F.col(id_col), seed), F.col(id_col)
    )
    kept = (
        docs.select(group_col, id_col)
        .withColumn("__rn", F.row_number().over(w))
        .join(
            F.broadcast(quotas.select(F.col("__g").alias(group_col), "__q")),
            group_col,
        )
        .filter(F.col("__rn") <= F.col("__q"))
    )
    report = kept.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum(id_col).cast("long").alias("kept_id_sum"),
    )
    return (
        quotas.select(
            F.col("__g").alias(group_col),
            F.col("__n").cast("long").alias("n_docs"),
            F.col("__q").cast("long").alias("quota"),
        )
        .join(report, group_col, "left")
        .select(
            group_col,
            "n_docs",
            "quota",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_id_sum", F.lit(0)).cast("long")
            .alias("kept_id_sum"),
        )
    )


def loader_schedule(
    manifest: DataFrame,
    stream_col: str = "stream",
    shard_col: str = "shard_id",
    bytes_col: str = "n_bytes",
    temperature: float = 2.0,
    qbits: int = 20,
) -> DataFrame:
    """Deterministic interleaved shard read order for a training loader
    — STRIDE SCHEDULING (Waldspurger & Weihl, OSDI '94) over the shard
    manifest: each stream's k-th shard gets virtual time
    (k + 1/2) / w_i, and the loader reads shards globally ordered by
    virtual time, so every prefix of the schedule holds each stream's
    share within one shard of its weight w_i — the property epoch-level
    proportioning (read all of stream A, then B) and naive round-robin
    (equal shares regardless of weight) both lack. Weights are
    temperature-scaled byte shares, w_i ∝ bytes_i^(1/T) — T=1 is
    natural proportions, T=2 the sqrt upweighting of tail streams that
    `temperature_mix_sqrt` applies to rows, here applied to the READ
    ORDER instead of the data.

    Output: (step, stream, shard_id, shard_bytes, vtime) — step is the
    1-based global read position; the frame IS the loader's plan, a few
    thousand rows at 100 TB (shards, not documents — the only window
    wider than a stream runs over the manifest, never the corpus).

    Bit-exact across engines by construction, so a DuckDB oracle can
    replay the whole schedule: the weight is the INTEGER
    floor(sqrt(bytes) * 2^qbits) (sqrt is correctly rounded in every
    IEEE engine, the floor-of-power-of-two-multiple is the
    `quantize_exact` idiom), the stream-weight total is an exact BIGINT
    sum (order-independent, unlike summing doubles), and
    vtime = double(2k+1) * double(total_q) / double(2 * w_q) is two
    correctly-rounded double operations over exact integers (the
    multiply is IN double because the exact long product overflows at
    realistic weights) — identical ties are broken by
    (stream, shard). Only T in {1.0, 2.0} is supported: pow(x, 1/T)
    for other T is not correctly rounded and differs between libm
    implementations, the exact cross-engine knife edge this package
    avoids everywhere."""
    if temperature not in (1.0, 2.0):
        raise ValueError(
            "temperature must be 1.0 (natural) or 2.0 (sqrt): other "
            "exponents need pow(), which is not bit-reproducible "
            f"across engines; got {temperature}"
        )
    scale = float(2**qbits)
    # Pin the manifest ONCE (optimization round 16): it feeds the
    # per-stream weight aggregate AND the final schedule join — when a
    # caller hands in a derived manifest (pipe_end_to_end_v11 passes
    # the whole v9 curation chain's shard aggregate), the unpinned
    # lineage re-expanded per consumer (v11: 23 shuffle exchanges ->
    # 4). Same for the stream-weight frame, consumed by the total
    # aggregate and the join.
    manifest = manifest.localCheckpoint(eager=False)
    per_stream = manifest.groupBy(stream_col).agg(
        F.sum(bytes_col).alias("__sbytes")
    )
    raw = (
        F.col("__sbytes").cast("double")
        if temperature == 1.0
        else F.sqrt(F.col("__sbytes").cast("double"))
    )
    wq = (
        per_stream.select(
            stream_col,
            F.floor(raw * F.lit(scale)).cast("long").alias("__wq"),
        )
        .filter(F.col("__wq") > 0)
        .localCheckpoint(eager=False)
    )
    total = wq.agg(F.sum("__wq").alias("__totq"))
    k = (
        F.row_number().over(
            Window.partitionBy(stream_col).orderBy(shard_col)
        )
        - 1
    )
    w_step = Window.orderBy(
        F.col("vtime").asc(), F.col(stream_col).asc(),
        F.col(shard_col).asc(),
    )
    return (
        manifest.join(wq, stream_col)
        .crossJoin(F.broadcast(total))
        .withColumn("__k", k)
        .withColumn(
            # Multiply in DOUBLE: the exact-long product (2k+1) * totq
            # overflows 63 bits at realistic 100 TB weights (totq ~
            # streams * 2^20 * sqrt(stream bytes) ~ 2^47, times ~2^18
            # strides) — an ANSI error, loud but down. Two correctly-
            # rounded double ops stay bit-identical across engines and
            # never overflow; the inputs are still exact integers.
            "vtime",
            (F.lit(2) * F.col("__k") + F.lit(1)).cast("double")
            * F.col("__totq").cast("double")
            / (F.lit(2) * F.col("__wq")).cast("double"),
        )
        .withColumn("step", F.row_number().over(w_step).cast("long"))
        .select(
            "step", stream_col, shard_col,
            F.col(bytes_col).alias("shard_bytes"), "vtime",
        )
    )
