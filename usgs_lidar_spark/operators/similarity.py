"""Similarity search over embedding columns (ArrayType(FloatType)).

North-star extension (SURVEY.md §2 "Extension operators"): brute-force
cosine top-k as the exact baseline; deterministic sign-LSH (single- and
multi-probe) and IVF (inverted-file, coarse-quantizer cells) as the
scale paths.

Scale design (100 TB of vectors):
  * brute force is a broadcast of the (small) query set against the corpus
    — embarrassingly parallel, no shuffle until the per-query top-k
    (which is a partial TopK per partition + tiny final merge);
  * the LSH variant buckets both sides by sign-bit hash so each query only
    scans its bucket — the equi-join on bucket id replaces the cross
    product; `cosine_topk_lsh_multiprobe` recovers near-boundary recall
    by probing all Hamming-1 neighbor buckets;
  * the IVF variant assigns each corpus vector to its nearest coarse
    centroid with no shuffle of the corpus: small quantizers (k <= 64)
    unroll into literal expressions, large ones ride a one-row broadcast
    as DATA so the plan stays O(1) in k (see `_with_centroid_sims`);
    queries probe their n_probe nearest cells, and the cell equi-join
    replaces the cross product. `kmeans_refine` improves the centroids
    with Lloyd iterations (per-dimension JVM-side AVGs);
  * dot products run as zip_with/aggregate higher-order expressions —
    JVM-side, no Python — keeping every default path oracle-comparable;
    `cosine_topk_bruteforce_arrow` is the measured ~3.5x throughput
    escape hatch (per-batch BLAS matmul over mapInPandas, byte-identical
    results by test);
  * `pq_encode`/`pq_adc_topk`/`ivf_pq_topk` add the compressed-domain
    tier: map-side code assignment, broadcast ADC LUTs, and the IVF-PQ
    composition that touches full vectors exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from usgs_lidar_spark.functions.spread import spread_for_kernel
from usgs_lidar_spark.functions.vectors import sign_lsh_bucket


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries x corpus, per-query window
    top-k. Ranking uses (rounded cosine DESC, corpus id ASC) so ties at
    the k boundary are deterministic across engines."""
    # Norms precomputed per side (once per vector, not once per pair) —
    # the arithmetic is identical to inline cosine (same expressions over
    # the same doubles), so oracle parity is unaffected while the HOF work
    # per pair drops to the dot product alone.
    from usgs_lidar_spark.functions.vectors import dot, norm

    cn = corpus.withColumn("__cnorm", norm(vec_col))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
    )
    joined = cn.crossJoin(F.broadcast(q)).filter(
        F.col(query_id_col) != F.col(id_col)
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(dot(vec_col, "__qvec") / (F.col("__cnorm") * F.col("__qnorm")))
    sim = F.round(raw, round_digits)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "sim", "rank")
    )


def _lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    flip_masks: list[int],
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
    n_bits: int,
    round_digits: int,
) -> DataFrame:
    """Shared sign-LSH top-k kernel: corpus keyed by its home bucket, each
    query probing ``home XOR mask`` for every mask in ``flip_masks``
    (pairwise-distinct probes => a corpus vector meets a query at most
    once), exact rounded cosine within the probed buckets, per-query
    window top-k with the module's (sim DESC, id ASC) tie contract. The
    three public variants differ ONLY in the mask list."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    cb = corpus.withColumn("__bucket", sign_lsh_bucket(vec_col, n_bits)).withColumn(
        "__cnorm", norm(vec_col)
    )
    # Explode the LITERAL mask array, then xor the home bucket once per
    # exploded row — not explode([home^m for m in masks]): that form
    # inlines one full copy of the n_bits-term bucket expression PER MASK
    # into the Generate node's codegen (37 copies at Hamming-2), which
    # overflows janino's method-size limit and silently drops the whole
    # subtree to interpreted execution (observed as "ERROR CodeGenerator:
    # Failed to compile" in the r6 replica).
    qb = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
        F.explode(
            F.array(*[F.lit(m).cast("long") for m in flip_masks])
        ).alias("__mask"),
    ).select(
        F.col(query_id_col),
        "__qvec",
        "__qnorm",
        sign_lsh_bucket("__qvec", n_bits)
        .bitwiseXOR(F.col("__mask"))
        .alias("__bucket"),
    )
    joined = cb.join(F.broadcast(qb), "__bucket").filter(
        F.col(query_id_col) != F.col(id_col)
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(dot(vec_col, "__qvec") / (F.col("__cnorm") * F.col("__qnorm")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("sim", F.round(raw, round_digits))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "sim", "rank")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_bits: int = 8,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket (axis-aligned hyperplanes — deterministic, no seed), then exact
    cosine within the bucket. The bucket equi-join replaces the cross
    product; at 2^n_bits buckets each probe scans ~1/2^n_bits of the
    corpus."""
    return _lsh_topk(
        corpus, queries, [0], id_col, vec_col, query_id_col, k, n_bits,
        round_digits,
    )


def cosine_topk_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_bits: int = 8,
    round_digits: int = 4,
) -> DataFrame:
    """Multi-probe sign-LSH ANN: each query probes its own bucket PLUS
    every 1-bit-flip neighbor bucket (all buckets within Hamming
    distance 1 — the recall fix for near-boundary vectors that
    single-probe ``cosine_topk_lsh`` trades away).

    Cost model at scale: the corpus side is untouched (one bucket per
    vector, same equi-join); only the query side multiplies by
    (n_bits + 1) probe rows, so each query scans ~(n_bits+1)/2^n_bits of
    the corpus — at n_bits=8 that is ~3.5% instead of single-probe's
    ~0.4%, for Hamming-1-complete recall. Probe buckets are pairwise
    distinct, so a corpus vector meets a query at most once — no
    dedup step. Wider probing (Hamming 2) is the same rewrite with
    flip-pair probes.
    """
    masks = [0] + [1 << j for j in range(n_bits)]
    return _lsh_topk(
        corpus, queries, masks, id_col, vec_col, query_id_col, k, n_bits,
        round_digits,
    )


def _py_norm(vec: list[float]) -> float:
    """Driver-side centroid norm: a compile-time constant. Inlining it as a
    scalar literal kills the per-row ``norm(lit_array)`` recomputation the
    expression path originally paid (k extra HOF folds per row)."""
    return float(sum(float(x) * float(x) for x in vec)) ** 0.5


# Above these budgets the literal-unrolled expression path stops being
# viable — the Catalyst tree is O(k*dim) nodes and plan ANALYSIS, not the
# data, becomes the cost (measured round 11: k=48 x dim=64 = 3072 literal
# nodes cost 3-4 s of driver-side plan construction per invocation, vs
# 0.14 s on the broadcast path whose plan is O(1) in k — the quantizer
# rides along as DATA in a one-row broadcast, not as expression nodes).
# `auto` therefore bounds BOTH the cell count and the total node count.
_EXPR_PATH_MAX_K = 64
_EXPR_PATH_MAX_NODES = 1024


class _KernelBudgetExceeded(Exception):
    """A kernel's driver-side collect (seed frame / benchmark vectors)
    exceeded the configured row budget — the dispatcher catches this and
    falls back to the distributed expression plan."""


def _kernel_collect_max_rows() -> int:
    """Row budget for kernel driver-side collects (optimization round
    17, VERDICT-r16 item 7). The r16 kernels' `auto`/default guards were
    size-BLIND: they checked the bench/seed side's TYPE (broadcastable
    by contract), so any future caller with an unbounded frame silently
    inherited a driver-side collect. Env-overridable
    (``SPARK_GRAFT_KERNEL_COLLECT_ROWS``); read per call so tests can
    exercise the fallback at a tiny cap. Bytes follow as
    rows x dim x 8 — the dim is bounded by the embedding schema, so a
    row cap is the practical budget."""
    import os

    return int(os.environ.get("SPARK_GRAFT_KERNEL_COLLECT_ROWS", "1000000"))


def _collect_capped(df: DataFrame, what: str) -> list:
    """``df.collect()`` that refuses to exceed the kernel row budget:
    the LIMIT bounds the transfer itself, so an over-budget frame costs
    one truncated scan, never an unbounded driver materialization."""
    cap = _kernel_collect_max_rows()
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise _KernelBudgetExceeded(
            f"{what} exceeds the kernel driver-collect budget "
            f"({cap} rows, SPARK_GRAFT_KERNEL_COLLECT_ROWS) — "
            "falling back to the distributed expression plan"
        )
    return rows


def _centroid_sims(
    vec_col: str, centroids: list[tuple[int, list[float]]], round_digits: int
):
    """Array of (sim, -cid) structs, one per centroid — per-row expression,
    no join. Sim is the rounded cosine (rounding pins cross-engine
    comparability, matching every other sim operator here); -cid makes a
    struct MAX pick the LOWEST centroid id on ties. Centroid norms are
    precomputed driver-side (`_py_norm`) and inlined as scalar literals —
    only `dot(vec, lit)` and the row vector's own norm run per row.

    Built as ONE SQL string parsed JVM-side (optimization round 16,
    guide §7.3): the Column-API form cost ~k*(dim+15) py4j round trips
    per construction (3,735 at k=8 x dim=32 — measured the dominant
    cost of every small-quantizer caller's plan build); the analyzed
    plan is SEMANTICALLY EQUAL to that form (sameResult pinned by
    `test_sqlbuild_parity.py`), so results and cache reuse are
    untouched."""
    from usgs_lidar_spark.functions.sqlbuild import dlit, qident

    # ADVICE r16: qident backquotes the WHOLE name as one identifier, so
    # a dotted name (struct-field access under F.col) or a Column would
    # silently change semantics / fail at parse — reject loudly. All
    # callers pass flat string names.
    if not isinstance(vec_col, str):
        raise TypeError(
            f"_centroid_sims: vec_col must be a flat column name string "
            f"(got {type(vec_col).__name__})"
        )
    v = qident(vec_col)
    vnorm = (
        f"sqrt(aggregate(zip_with({v}, {v}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
    )
    rd = int(round_digits)
    entries = []
    for cid, cvec in centroids:
        cnorm = _py_norm(cvec)
        if cnorm == 0.0:
            raw = "0.0D"
        else:
            arr = "array(" + ", ".join(dlit(x) for x in cvec) + ")"
            dot = (
                f"aggregate(zip_with({v}, {arr}, (x, y) -> "
                f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
                f"(acc, v) -> acc + v)"
            )
            raw = (
                f"CASE WHEN {vnorm} = 0 THEN 0.0D "
                f"ELSE {dot} / ({vnorm} * {dlit(cnorm)}) END"
            )
        entries.append(
            f"named_struct('sim', round({raw}, {rd}), "
            f"'negcid', CAST({-int(cid)} AS BIGINT))"
        )
    return F.expr("array(" + ", ".join(entries) + ")")


def _with_centroid_sims(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    round_digits: int,
    method: str = "auto",
) -> tuple[DataFrame, F.Column]:
    """Attach a per-row array<struct<sim, negcid>> of centroid cosines.

    Two physically different, semantically identical strategies:

    * ``expr`` — `_centroid_sims` literal unrolling. Zero join, zero extra
      columns; right for a small quantizer (k <= ~64) where k*dim literal
      nodes are cheap.
    * ``broadcast`` — the quantizer becomes a ONE-ROW DataFrame holding
      array<struct<cid, cvec, cnorm>>; a broadcast nested-loop join against
      that single row attaches it as a plan-size-O(1) column, and a
      `transform` HOF computes the sims. This is the scale path for
      k ~ sqrt(corpus) (10^3..10^6 cells): the centroid table moves as
      broadcast DATA (k*dim doubles, once per executor), never as
      expression nodes, and assignment still runs inside the scan stage
      with no shuffle of the corpus.

    ``auto`` picks expr for len(centroids) <= 64 else broadcast. Returns
    (df', sims_column, tmp_col): tmp_col is the name of the temp centroid
    column attached to df' (uniquified against df's columns so a caller's
    own `__cents` is never shadowed or dropped), or None on the expr path.
    """
    if method == "auto":
        dim = len(centroids[0][1]) if centroids else 0
        method = (
            "expr"
            if len(centroids) <= _EXPR_PATH_MAX_K
            and len(centroids) * dim <= _EXPR_PATH_MAX_NODES
            else "broadcast"
        )
    if method == "expr":
        return df, _centroid_sims(vec_col, centroids, round_digits), None
    if method != "broadcast":
        raise ValueError(f"unknown centroid-sims method: {method!r}")

    from usgs_lidar_spark.functions.vectors import dot, norm

    spark = df.sparkSession
    tmp = "__cents"
    while tmp in df.columns:
        tmp += "_"
    cents_row = [
        {"cid": int(cid), "cvec": [float(x) for x in cvec], "cnorm": _py_norm(cvec)}
        for cid, cvec in centroids
    ]
    one = spark.createDataFrame(
        [(cents_row,)],
        f"{tmp} array<struct<cid: bigint, cvec: array<double>, cnorm: double>>",
    )
    out = df.crossJoin(F.broadcast(one))
    vnorm = norm(vec_col)
    sims = F.transform(
        F.col(tmp),
        lambda c: F.struct(
            F.round(
                F.when((vnorm == 0) | (c["cnorm"] == 0), F.lit(0.0)).otherwise(
                    dot(vec_col, c["cvec"]) / (vnorm * c["cnorm"])
                ),
                round_digits,
            ).alias("sim"),
            (-c["cid"]).alias("negcid"),
        ),
    )
    return out, sims, tmp


def _ivf_assign_arrow(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    round_digits: int,
    keep_sim: bool,
) -> DataFrame:
    """`ivf_assign`'s Arrow kernel (optimization round 16, guide §4.2) —
    bit-identical to the broadcast/expr strategies: the quantizer rides
    the task closure as a (k, dim) float64 matrix and the per-row argmax
    runs as one `mapInArrow` NumPy pass over the scan, replacing k
    interpreted higher-order dot folds per row (zip_with/aggregate get
    no codegen — measured 2.7 s for 2,286 rows x 48 centroids on one
    core, vs 0.1 s in the kernel). Exactness carries through the same
    `arrow_exact` contract every kernel here uses: sequential-fold
    dot/norm order, Spark's shortest-decimal HALF_UP rounding, and the
    struct-max tie-break reproduced by a first-occurrence argmax over
    cid-ASCENDING centroids (max sim, then min cid — NaN sims, were a
    vector ever non-finite, also win in both forms). Zero-norm rows and
    centroids pin sim 0.0 exactly like the expression `when` guards.

    Map-only, zero corpus shuffle at scale: the round-robin spread
    engages ONLY when the scan has fewer splits than the cluster has
    slots (the tiny-input regime; at real scale the guard is false and
    assignment rides the scan stage exactly like the expression form).
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from usgs_lidar_spark.functions.arrow_exact import (
        list_array_to_matrix,
        seqfold_dot,
        seqfold_sqnorm,
        spark_round_double,
    )

    cents = sorted(
        ((int(cid), [float(x) for x in cvec]) for cid, cvec in centroids),
        key=lambda t: t[0],
    )
    dims = {len(v) for _, v in cents}
    if len(dims) > 1:
        raise ValueError(f"ragged centroid dims: {sorted(dims)[:5]}")
    dim = dims.pop()
    cid_list = [c for c, _ in cents]
    cvec_list = [v for _, v in cents]
    rd = int(round_digits)
    ks = bool(keep_sim)
    vec_idx = corpus.columns.index(vec_col)
    out_fields = list(corpus.schema.fields) + [StructField("__cid", LongType())]
    if ks:
        out_fields.append(StructField("__csim", DoubleType()))
    out_schema = StructType(out_fields)

    def kernel(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(out_schema)
        m = len(cid_list)
        S = np.asarray(cvec_list, dtype=np.float64).reshape(m, dim)
        cids = np.asarray(cid_list, dtype=np.int64)
        snorm = np.sqrt(seqfold_sqnorm(S))
        szero = snorm == 0.0
        # cap the (chunk x k) sim block at ~32 MB of doubles
        chunk = max(1, (4 * 1024 * 1024) // max(m, 1))
        for batch in batches:
            for lo in range(0, batch.num_rows, chunk):
                sub = batch.slice(lo, chunk)
                C = list_array_to_matrix(sub.column(vec_idx), expect_dim=dim)
                vnorm = np.sqrt(seqfold_sqnorm(C))
                denom = vnorm[:, None] * snorm[None, :]
                zero = (vnorm[:, None] == 0.0) | szero[None, :]
                sims = spark_round_double(
                    seqfold_dot(C, S) / np.where(zero, 1.0, denom), rd
                )
                np.copyto(sims, 0.0, where=zero)
                best = np.argmax(sims, axis=1)  # first max == min cid on ties
                cols = list(sub.columns)
                cols.append(pa.array(cids[best], type=pa.int64()))
                if ks:
                    cols.append(
                        pa.array(
                            sims[np.arange(sims.shape[0]), best],
                            type=pa.float64(),
                        )
                    )
                yield pa.RecordBatch.from_arrays(cols, schema=arrow_out)

    c = corpus
    c = spread_for_kernel(c)
    return c.mapInArrow(kernel, out_schema)


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]] | DataFrame,
    vec_col: str = "embedding",
    round_digits: int = 4,
    method: str = "auto",
    keep_sim: bool = False,
) -> DataFrame:
    """Attach `__cid`: the nearest (max rounded cosine, min id on ties)
    coarse centroid. Centroids are a driver-side list — the coarse
    quantizer is k vectors (k ~ sqrt(corpus) cells in practice, kilobytes
    to megabytes). Assignment is embarrassingly parallel under EVERY
    strategy: it runs inside the scan stage with no shuffle of the
    corpus at any size. ``method``: ``expr`` unrolls k*dim literal
    expression nodes (right for a tiny quantizer); ``broadcast``
    attaches the quantizer as a one-row broadcast and folds it with
    higher-order functions (plan O(1) in k); ``kernel`` (optimization
    round 16 — what ``auto`` now picks past the expression budget)
    ships the quantizer in the task closure and runs the argmax as one
    `mapInArrow` NumPy pass, bit-identical to both expression forms
    (`_ivf_assign_arrow`) and ~10x faster per row than the interpreted
    zip_with/aggregate folds, which get no codegen. ``keep_sim``
    additionally attaches `__csim`, the rounded cosine to the assigned
    centroid (the quantization-quality signal drift metrics read).

    ``centroids`` may ALSO be a DataFrame of (cid, cvec) — the round-13
    large-k form: past the one-row-broadcast ceiling (k ~ sqrt(corpus)
    reaches 10^5..10^6 cells at 10^10..10^12 docs, k*dim doubles no
    longer a sane single broadcast row), the quantizer stays distributed
    and assignment goes through `ivf_assign_two_level` (coarse level a
    small broadcast, fine level an equi-join on the coarse cell). The
    flat list path is bit-identical and remains the right call while
    k*dim fits the broadcast budget."""
    if isinstance(centroids, DataFrame):
        if method != "auto":
            # The flat strategies (broadcast row / literal expressions)
            # do not exist for a distributed quantizer, and the
            # two-level default is the n_probe_coarse=1 IMI
            # approximation — silently honoring an explicit flat-path
            # request with different semantics is the accuracy-rot
            # class this engine fails loudly on.
            raise ValueError(
                "ivf_assign: method is a flat-quantizer strategy knob "
                f"(got {method!r}); a DataFrame quantizer dispatches to "
                "ivf_assign_two_level — call it directly to control "
                "coarse probing (n_probe_coarse)"
            )
        return ivf_assign_two_level(
            corpus,
            centroids,
            vec_col=vec_col,
            round_digits=round_digits,
            keep_sim=keep_sim,
        )
    if method == "auto":
        dim = len(centroids[0][1]) if centroids else 0
        method = (
            "expr"
            if len(centroids) <= _EXPR_PATH_MAX_K
            and len(centroids) * dim <= _EXPR_PATH_MAX_NODES
            else "kernel"
        )
    if method == "kernel":
        # Kernel preconditions (all rare): a non-empty quantizer and no
        # name collision with the attached columns — otherwise the
        # broadcast strategy answers identically.
        if centroids and "__cid" not in corpus.columns and (
            not keep_sim or "__csim" not in corpus.columns
        ):
            return _ivf_assign_arrow(
                corpus, centroids, vec_col, round_digits, keep_sim
            )
        method = "broadcast"
    df, sims, tmp = _with_centroid_sims(
        corpus, centroids, vec_col, round_digits, method
    )
    best = F.array_max(sims)
    out = df.withColumn("__cid", -best["negcid"])
    if keep_sim:
        out = out.withColumn("__csim", best["sim"])
    return out.drop(tmp) if tmp is not None else out


def kmeanspp_seed_centroids(
    centroids_df: DataFrame,
    n_seeds: int,
    cid_col: str = "cid",
    cvec_col: str = "cvec",
    qbits: int = 20,
    batch_m: int = 1,
) -> list[tuple[int, list[float]]]:
    """Deterministic k-means++-style seeding over a (cid, cvec) frame:
    greedy FARTHEST-POINT (Gonzalez 1985 k-center — the derandomized
    stand-in for k-means++'s D²-sampling: argmax of distance instead of
    sampling proportional to D², so there is no RNG and any engine
    replays the identical seed list). Start from the min-cid row; each
    round picks the row whose MAXIMUM similarity to the chosen seeds is
    MINIMAL (ties -> min cid) — i.e. the point worst-covered by the
    current seed set, which is exactly the clump k-means++ exists to
    find and cid-stride misses.

    Arithmetic is the engine's exact-quantized convention: similarity
    keys come from `_exact_argmax_structs` (integer dot over
    `quantize_exact` vectors through correctly-rounded sqrt/divide),
    row-normalized by the row's own exact integer norm — every double
    is bit-identical in any IEEE engine, so the seed list (and
    everything trained from it) is reproducible, not just "usually the
    same".

    Cost (corrected round 16 — the r15 docstring understated it): with
    ``batch_m=1``, ``g = n_seeds`` SEQUENTIAL Spark jobs, round ``i``
    scanning k rows against an i-seed argmax — O(k·g²) total key work,
    a factor ~g MORE than one `kmeans_train_centroids` iteration's
    O(k·g); at the two-level tier's g ~ sqrt(k) and k = 10^6 that is
    ~1000 driver-coordinated jobs. Still bounded by the QUANTIZER
    (k rows, never the corpus) and paid once at index build, but for
    large k pass ``batch_m=m`` to fetch a TOURNAMENT POOL of the m
    worst-covered rows per scan and accept them greedily DRIVER-SIDE
    (farthest-point within the pool, each acceptance re-scored against
    the seeds accepted so far in the same exact-quantized arithmetic —
    Python floats are IEEE doubles, so the driver replay is
    bit-identical to what a Spark round would compute): job count drops
    to ~ceil(g/m) at the cost of pool-local (not global) argmin picks —
    the scalable-k-means++ oversampling trade (Bahmani et al. 2012).
    ``batch_m=1`` is byte-for-byte the round-15 algorithm."""
    if int(batch_m) < 1:
        raise ValueError(f"batch_m must be >= 1, got {batch_m}")
    rows = centroids_df.select(
        F.col(cid_col).alias("cid"), F.col(cvec_col).alias("cvec")
    )
    k = rows.count()
    g = min(int(n_seeds), k)
    if g <= 0:
        return []
    from usgs_lidar_spark.functions.vectors import dot_q, quantize_exact

    df = (
        rows.withColumn("__qv", quantize_exact("cvec", qbits))
        .withColumn(
            "__rn", F.sqrt(dot_q("__qv", "__qv").cast("double"))
        )
        .localCheckpoint(eager=False)
    )
    first = df.orderBy("cid").limit(1).collect()[0]
    seeds = [(int(first["cid"]), [float(x) for x in first["cvec"]])]
    while len(seeds) < g:
        qseeds = _quantize_centroids_exact(seeds, qbits)
        best = F.array_max(_exact_argmax_structs("__qv", qseeds))
        simn = F.when(F.col("__rn") == 0, F.lit(0.0)).otherwise(
            best["key"] / F.col("__rn")
        )
        picked = [cid for cid, _ in seeds]
        m = min(int(batch_m), g - len(seeds))
        pool = (
            df.filter(~F.col("cid").isin(picked))
            .select(simn.alias("s"), "cid", "cvec")
            .orderBy("s", "cid")
            .limit(m)
            .collect()
        )
        if not pool:
            break  # fewer distinct rows than requested seeds
        # Pool-local greedy farthest-point, driver-side: each step
        # re-scores every remaining pool row's max-sim against the
        # CURRENT seed list (intra-batch accepts included) in the same
        # exact-quantized arithmetic the Spark scan used — Python
        # floats are IEEE doubles and the op order matches
        # (dot / sqrt(|seed|²)) / sqrt(|row|²) — then accepts the
        # worst-covered (min sim, then min cid). A clump in the pool
        # therefore spaces itself out instead of landing wholesale.
        import math

        remaining = [
            (int(r["cid"]), [float(x) for x in r["cvec"]]) for r in pool
        ]
        while remaining and len(seeds) < g:
            qseed_list = _quantize_centroids_exact(seeds, qbits)
            scored = []
            for cid, cvec in remaining:
                qc, nr = _quantize_centroids_exact(
                    [(cid, cvec)], qbits
                )[0][1:]
                rn = math.sqrt(float(nr))
                # mirror the Spark expression exactly: per-seed key is
                # dot/sqrt(|seed|²) (0.0 for a zero seed), max over
                # keys FIRST, then one divide by the row norm
                best_key = max(
                    0.0
                    if nq == 0
                    else float(sum(a * b for a, b in zip(qc, qs)))
                    / math.sqrt(float(nq))
                    for _, qs, nq in qseed_list
                )
                worst = 0.0 if rn == 0 else best_key / rn
                scored.append((worst, cid, cvec))
            scored.sort(key=lambda t: (t[0], t[1]))
            _, cid, cvec = scored[0]
            seeds.append((cid, cvec))
            remaining = [(c, v) for c, v in remaining if c != cid]
    return seeds


def derive_coarse_quantizer(
    centroids_df: DataFrame,
    cid_col: str = "cid",
    cvec_col: str = "cvec",
    n_coarse: int | None = None,
    method: str = "stride",
    n_iter: int = 2,
    seeding: str = "stride",
    seed_batch_m: int = 1,
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse level for `ivf_assign_two_level`: ~sqrt(k)
    evenly-cid-strided members of the fine quantizer itself (the same
    seed-from-the-data convention every quantizer path here uses). The
    collect is <= sqrt(k) rows — bounded by the quantizer, never the
    corpus: at k = 10^6 cells that is 1000 vectors on the driver, the
    same budget class as every flat quantizer list.

    ``method="trained"`` (round 14 — r13 verdict item 3) refines the
    stride seeds with ``n_iter`` exact Lloyd iterations of
    `kmeans_train_centroids` run over the CENTROIDS FRAME itself (k
    rows — the training corpus here is the fine quantizer, so each
    iteration shuffles k*dim bounded stats, never data): the coarse
    split then tracks the fine centroids' actual clustering instead of
    their cid order, which is what decides the IMI approximation's
    recall at n_probe_coarse < n_cells (measured in SCALE.md round 14:
    on clumped quantizers the trained split's probe-1 assignment
    agreement is far above stride's). Probe-ALL semantics are
    unaffected by the split — bit-identical to flat `ivf_assign` under
    either method (the pinned two-level contract) — because every fine
    centroid sits in exactly one pack regardless of which coarse cell
    owns it. Trained coarse ids are the seed cids carried through the
    update (labels only — `ivf_assign_two_level` groups by them, their
    values never enter a comparison).

    The global stride ranking needs a single-partition window, so it
    runs over the cid column ALONE (8 bytes/row — k = 10^6 is 8 MB
    through one task) and the selected ids semi-join back to fetch
    their vectors distributed; ranking (cid, vector) rows directly
    would drag the full k x dim quantizer through one task — the exact
    single-partition bottleneck the two-level tier exists to avoid.

    ``seeding`` picks HOW the initial coarse members are chosen:
    ``"stride"`` (evenly by cid — cheap, one window over the cid
    column) or ``"kmeanspp"`` (`kmeanspp_seed_centroids` — deterministic
    farthest-point: the seeds already track the fine centroids'
    clustering, so fewer/zero Lloyd iterations reach the trained
    split's recall; round-15 A/B in SCALE.md). Orthogonal to ``method``:
    ``"trained"`` refines WHICHEVER seeds with ``n_iter`` exact Lloyd
    iterations; probe-all stays bit-identical to flat under every
    combination (the pinned two-level contract)."""
    import math

    k = centroids_df.count()
    if k == 0:
        return [(0, [0.0])]
    g = n_coarse or max(1, math.ceil(math.sqrt(k)))
    if seeding == "kmeanspp":
        seeds = kmeanspp_seed_centroids(
            centroids_df, g, cid_col=cid_col, cvec_col=cvec_col,
            batch_m=seed_batch_m,
        )
    elif seeding == "stride":
        stride = max(1, math.ceil(k / g))
        w = Window.orderBy(F.col(cid_col))
        picked = (
            centroids_df.select(cid_col)
            .withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") - 1) % stride == 0)
            .select(cid_col)
        )
        rows = (
            centroids_df.select(cid_col, cvec_col)
            .join(F.broadcast(picked), cid_col, "semi")
            .collect()
        )
        # The semi-join returns rows in task-completion order — sort
        # driver-side (<= sqrt(k) rows, cost nil) so the promised
        # determinism covers the LIST itself, not just the downstream
        # order-independent argmax: a caller that fingerprints or zips
        # the coarse list must not see run-to-run drift (ADVICE r13).
        rows = sorted(rows, key=lambda r: int(r[cid_col]))
        seeds = [
            (int(r[cid_col]), [float(x) for x in r[cvec_col]])
            for r in rows
        ]
    else:
        raise ValueError(
            f"derive_coarse_quantizer: seeding must be 'stride' or "
            f"'kmeanspp', got {seeding!r}"
        )
    if method == "stride":
        return seeds
    if method == "trained":
        return kmeans_train_centroids(
            centroids_df, seeds, vec_col=cvec_col, n_iter=n_iter
        )
    raise ValueError(
        f"derive_coarse_quantizer: method must be 'stride' or 'trained', "
        f"got {method!r}"
    )


def ivf_assign_two_level(
    corpus: DataFrame,
    centroids_df: DataFrame,
    coarse: list[tuple[int, list[float]]] | None = None,
    n_probe_coarse: int = 1,
    vec_col: str = "embedding",
    round_digits: int = 4,
    keep_sim: bool = False,
    cid_col: str = "cid",
    cvec_col: str = "cvec",
) -> DataFrame:
    """`ivf_assign` for quantizers too large to ship as one broadcast
    row: ``centroids_df`` is a DATAFRAME of (cid, cvec) — k rows that
    never touch the driver — and assignment becomes coarse-then-fine
    (the inverted-multi-index shape, Babenko & Lempitsky 2012):

      1. the fine centroids are themselves assigned to a small COARSE
         quantizer (<= ~sqrt(k) vectors — ``coarse``, default
         `derive_coarse_quantizer`) and packed ONE ROW PER COARSE CELL
         as array<struct<cid, cvec, cnorm>> (~sqrt(k)*dim doubles per
         row — the per-row payload the one-row-broadcast path would
         have made k*dim);
      2. each corpus row map-side coarse-assigns (small broadcast /
         literal expressions — the flat path, plan O(1)) and takes its
         ``n_probe_coarse`` nearest coarse cells;
      3. one equi-join PER PROBE against the packed cell table binds
         the candidate centroid pack, and an `array_max(transform(...))`
         HOF computes the per-pack argmax; `greatest` across probes
         merges. No corpus groupBy, no row-id requirement, corpus rows
         never multiply: the plan is n_probe_coarse equi-joins, each
         matching <= 1 packed row per corpus row. When the packed table
         exceeds the broadcast threshold the join shuffles the corpus
         by coarse cell — the honest, bounded cost of an
         above-broadcast-budget quantizer (AQE's skew splitting applies:
         the build side is one row per key).

    Semantics: probing ALL coarse cells (n_probe_coarse = n_cells) is
    BIT-IDENTICAL to flat `ivf_assign` — same rounded-cosine
    expressions, same (max sim, min cid) tie rule via the shared
    struct(sim, negcid) ordering — pinned by
    test_ivf_two_level_probe_all_matches_flat. Smaller n_probe_coarse
    is the standard IMI approximation: a row whose true cell hides
    behind a non-probed coarse cell gets its best PROBED cell (same
    knob contract as `cosine_topk_lsh`'s bucketing; zero-vectors and
    empty probed cells degrade the same documented way). Every
    downstream consumer (`semdedup_flags`, `semdedup_append_flags`,
    `ivf_append`) accepts the DataFrame form through `ivf_assign`'s
    dispatch."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    if coarse is None:
        coarse = derive_coarse_quantizer(centroids_df, cid_col, cvec_col)
    n_probe = max(1, min(int(n_probe_coarse), len(coarse)))

    packed = (
        ivf_assign(centroids_df, coarse, vec_col=cvec_col,
                   round_digits=round_digits)
        .select(
            F.col("__cid").alias("__gid"),
            F.struct(
                F.col(cid_col).cast("long").alias("cid"),
                F.col(cvec_col).alias("cvec"),
                norm(cvec_col).alias("cnorm"),
            ).alias("__cand"),
        )
        .groupBy("__gid")
        .agg(F.collect_list("__cand").alias("__cands"))
    )

    df, gsims, gtmp = _with_centroid_sims(
        corpus, coarse, vec_col, round_digits
    )
    # array_sort orders struct<sim, negcid> ascending -> reversed is the
    # flat path's array_max ordering (sim DESC, then negcid DESC = cid
    # ASC), so probe p is the p-th nearest coarse cell with the same tie
    # rule as every argmax in this module.
    probes = F.slice(F.reverse(F.array_sort(gsims)), 1, n_probe)
    out = df.withColumn("__probes", probes)
    if gtmp is not None:
        out = out.drop(gtmp)

    vnorm = norm(vec_col)
    bests = []
    for p in range(n_probe):
        side = packed.select(
            F.col("__gid").alias(f"__gid_{p}"),
            F.col("__cands").alias(f"__cands_{p}"),
        )
        out = out.join(
            side,
            -F.element_at("__probes", p + 1)["negcid"]
            == F.col(f"__gid_{p}"),
            "left",
        )
        bests.append(
            F.array_max(
                F.transform(
                    F.col(f"__cands_{p}"),
                    lambda c: F.struct(
                        F.round(
                            F.when(
                                (vnorm == 0) | (c["cnorm"] == 0), F.lit(0.0)
                            ).otherwise(
                                dot(vec_col, c["cvec"])
                                / (vnorm * c["cnorm"])
                            ),
                            round_digits,
                        ).alias("sim"),
                        (-c["cid"]).alias("negcid"),
                    ),
                )
            )
        )
    best = F.greatest(*bests) if len(bests) > 1 else bests[0]
    out = out.withColumn("__cid", -best["negcid"])
    if keep_sim:
        out = out.withColumn("__csim", best["sim"])
    drop = ["__probes"] + [
        c for p in range(n_probe) for c in (f"__gid_{p}", f"__cands_{p}")
    ]
    return out.drop(*drop)


def semdedup_flags(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]] | DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
    max_cell_size: int | None = None,
    sub_bits: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SemDeDup — semantic (embedding-space) deduplication via
    cluster-then-dedup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication",
    arXiv:2303.09540): assign every vector to its nearest coarse
    centroid, then search for near-duplicate pairs ONLY within each
    cluster — the step that makes embedding-cosine dedup tractable at
    corpus scale, since semantic duplicates land in the same cell by
    construction and the all-pairs cost collapses from corpus² to
    sum over cells of cell_size².

    Plan: assignment is `ivf_assign` — a map-side broadcast/expression
    argmax inside the scan stage, no corpus shuffle (the quantizer is
    k driver-side vectors, the same contract as every IVF path here);
    the assigned frame is checkpoint-pinned once and self-joined on the
    CELL id (an equi-join — the bounded blowup of every blocked dedup
    in this engine, never a cross join); the keep rule is the
    engine-wide min-id convention: a row is dropped iff some LOWER-id
    row in its cell has rounded cosine >= ``threshold``. Cosines are
    the same double-exact sequential-fold + ROUND(_, round_digits) the
    oracled ANN queries use, so the keep DECISION is cross-engine
    hash-stable, not just the counts.

    Returns (id, cid, n_dups, keep) for every corpus row — the audit
    form: n_dups counts the row's above-threshold lower-id cell
    neighbors; keep = (n_dups == 0), i.e. each duplicate group's
    minimum id survives.

    HOT-CELL GUARD (round 12 — the r11 verdict's lead item). The
    within-cell self-join is bounded by sum-of-cell², which sqrt-k
    quantizer sizing keeps linear only while cells stay BALANCED: a
    Zipf-clustered corpus parks a constant fraction of rows in one
    cell at any k, and SCALE.md's own fixed-k measurement (566 s at
    10x) proves the quadratic is reachable. With ``max_cell_size``
    set, any cell LARGER than it is secondarily blocked inside the
    cell by the deterministic axis-aligned sign-LSH bucket
    (`sign_lsh_bucket`, ``sub_bits`` sign bits — the same seedless,
    oracle-reproducible hash every LSH path here uses), and candidate
    pairs within a hot cell are restricted to buckets within HAMMING
    DISTANCE <= 1 — the multiprobe rewrite of `_lsh_topk`: the b side
    keeps its home bucket, the a side explodes sub_bits+1
    pairwise-distinct probe masks (home, home^bit_j), so each pair
    still meets at most once and the per-hot-cell cost drops from
    cell² to ~(sub_bits+1)/2^sub_bits of it when the cell is
    internally diverse. Cells at or under the threshold keep the
    EXACT within-cell search (probe key pinned to -1 on both sides,
    one a-side row per row). Semantics under the guard: a hot-cell
    pair is considered only if its first-``sub_bits`` sign patterns
    differ in at most one bit — near-duplicates (cosine >= 0.99
    => angle <= ~8 degrees) disagree on a sign only where a
    coordinate sits essentially at zero, so real dup pairs survive
    the block with the same pigeonhole logic as
    `dedup._simhash_block_pairs`; the relaxation is part of the
    operator's contract and is mirrored EXACTLY by the SQL oracle
    (bit_count(xor(bucket_a, bucket_b)) <= 1), keeping the keep
    decision hash-stable, not merely approximate. ``max_cell_size=
    None`` (the default) is byte-for-byte the pre-guard plan.

    CAP / REPRESENTATIVE-COLLAPSE (round 13 — the degenerate-regime rung
    SCALE.md's hot-cell measurement names). The sub-block splits a hot
    cell only when its vectors are sign-DIVERSE; a hot cell of
    near-identical vectors shares ONE sign pattern (true dups never
    differ in sign), lands in a single sub-bucket, and the guarded cost
    degrades back to bucket² exactly when duplication is most extreme —
    measured superlinear in SCALE.md round 13. With ``max_bucket_size``
    set (requires ``max_cell_size``), any hot (cell, sub-bucket) group
    LARGER than it is collapsed: only its min-id REPRESENTATIVE remains
    visible as a b-side (lower-id neighbor) candidate — to bucket
    members and Hamming<=1 probers alike — so per-jammed-bucket pair
    work drops from bucket² to bucket size. Every row still probes as
    an a-side and still receives flags. Semantics: a row whose only
    above-threshold lower-id neighbors are NON-representative members
    of a jammed bucket is missed; in the near-identical regime the
    collapse exists for, every member matches the representative
    (cosine ~1 by the regime's definition), so the KEEP SET equals the
    exact answer — the min id survives, everything else drops
    (n_dups counts only VISIBLE neighbors, so audit counts shrink; the
    keep decision is what the contract pins). The visibility rule is a
    pure function of (cell, bucket, bucket size, min id) and is
    mirrored EXACTLY by the SQL oracle of `dedup_semdedup_repcollapse`,
    keeping the relaxed decision hash-stable cross-engine.
    """
    from usgs_lidar_spark.functions.vectors import dot, norm, sign_lsh_bucket

    # Per-row norm is computed ONCE here and carried through the
    # self-join: the pairwise cosine then costs one dot fold per pair
    # instead of three (dot + both norms re-derived per pair) — a ~3x
    # cut in interpreted higher-order-function work, with bit-identical
    # results (norm(v) is the same sequential fold whether evaluated
    # per row or per pair; the zero-norm guard matches vectors.cosine).
    if max_bucket_size is not None and max_cell_size is None:
        raise ValueError(
            "max_bucket_size (representative collapse) requires "
            "max_cell_size (the sub-blocking it caps)"
        )
    cols = [
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm(vec_col).alias("__n"),
        F.col("__cid"),
    ]
    if max_cell_size is not None:
        cols.append(sign_lsh_bucket(vec_col, sub_bits).alias("__sub"))
    assigned = (
        ivf_assign(corpus, centroids, vec_col, round_digits)
        .select(*cols)
        .localCheckpoint(eager=False)
    )
    if max_cell_size is not None:
        # Cell sizes are a <= k-row aggregate; hot membership rides back
        # on a broadcast join (never a collect — k is a knob but cell
        # SIZES are data). The blocking key is then a pure per-row
        # function of (cell, vector): hot rows use their sign bucket,
        # small cells pin -1 — one equi-join column for both regimes.
        hot = (
            assigned.groupBy("__cid")
            .agg(F.count(F.lit(1)).alias("__csize"))
            .filter(F.col("__csize") > int(max_cell_size))
            .select("__cid", F.lit(True).alias("__hot"))
        )
        assigned = (
            assigned.join(F.broadcast(hot), "__cid", "left")
            .withColumn(
                "__key",
                F.when(F.col("__hot"), F.col("__sub")).otherwise(
                    F.lit(-1).cast("long")
                ),
            )
            .localCheckpoint(eager=False)
        )
        masks = F.array(
            *[
                F.lit(m).cast("long")
                for m in [0] + [1 << j for j in range(sub_bits)]
            ]
        )
        # a side: explode the literal mask array once, xor once (the
        # _lsh_topk codegen-size rule) — non-hot rows explode a
        # single zero mask, and -1 ^ 0 == -1 keeps their key intact.
        a = (
            assigned.withColumn(
                "__mask",
                F.explode(
                    F.when(F.col("__hot"), masks).otherwise(
                        F.array(F.lit(0).cast("long"))
                    )
                ),
            )
            .withColumn(
                "__key", F.col("__key").bitwiseXOR(F.col("__mask"))
            )
            .alias("a")
        )
        b_side = assigned
        if max_bucket_size is not None:
            # Jammed buckets: hot (cell, sub) groups over the cap. The
            # aggregate is bounded by (#hot cells x 2^sub_bits) 3-long
            # rows — broadcastable bucket STATS, never vectors. b-side
            # visibility then keeps only each jammed bucket's min-id
            # representative; a-side (probing) rows are untouched, so
            # every row still gets flags.
            jam = (
                assigned.filter(F.col("__hot"))
                .groupBy("__cid", "__sub")
                .agg(
                    F.count(F.lit(1)).alias("__bsize"),
                    F.min("__id").alias("__rep"),
                )
                .filter(F.col("__bsize") > int(max_bucket_size))
                .select("__cid", "__sub", "__rep")
            )
            b_side = (
                assigned.join(F.broadcast(jam), ["__cid", "__sub"], "left")
                .filter(
                    F.col("__rep").isNull()
                    | (F.col("__id") == F.col("__rep"))
                )
                .drop("__rep")
            )
        b = b_side.alias("b")
        pair_cond = (
            (F.col("a.__cid") == F.col("b.__cid"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("b.__id") < F.col("a.__id"))
        )
    else:
        a, b = assigned.alias("a"), assigned.alias("b")
        pair_cond = (F.col("a.__cid") == F.col("b.__cid")) & (
            F.col("b.__id") < F.col("a.__id")
        )
    cos = F.round(
        F.when(
            (F.col("a.__n") == 0) | (F.col("b.__n") == 0), F.lit(0.0)
        ).otherwise(
            dot(F.col("a.__v"), F.col("b.__v"))
            / (F.col("a.__n") * F.col("b.__n"))
        ),
        round_digits,
    )
    dups = (
        a.join(b, pair_cond)
        .filter(cos >= F.lit(float(threshold)))
        .groupBy(F.col("a.__id").alias("__id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_dups"))
    )
    return assigned.join(dups, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.col("__cid").cast("long").alias("cid"),
        F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
        (F.coalesce("n_dups", F.lit(0)) == 0).alias("keep"),
    )


def semdedup_append_flags(
    history_assigned: DataFrame,
    new_vectors: DataFrame,
    centroids: list[tuple[int, list[float]]] | DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
    max_cell_size: int | None = None,
    sub_bits: int = 8,
) -> DataFrame:
    """Incremental SemDeDup — the streaming-corpus maintenance form of
    `semdedup_flags`: dedup an appended batch against committed
    history + itself WITHOUT re-scoring any history-history pair,
    composing `ivf_append`'s assign-only-the-batch step with the
    min-id keep rule (the `chunk_dedup_incremental` anti-join shape,
    lifted to embedding space).

    Contract: ``history_assigned`` is the committed corpus in
    `ivf_assign` output form (original columns + ``__cid``) — the
    same stored-index shape `ivf_append` maintains — and ids are
    MONOTONE: every batch id is greater than every history id (an
    ingest's arrival order). Then, because the keep rule only counts
    LOWER-id neighbors, committed rows can never gain a new duplicate
    from a later batch (their flags are immutable once written), and
    the batch rows' flags computed here are IDENTICAL to what a
    one-shot `semdedup_flags` over history+batch would assign them —
    batch-wise processing converges to the one-shot answer. Pinned by
    the `dedup_semdedup_incremental` oracle query (two batches drained
    in-query vs a one-shot DuckDB replay restricted to batch ids) and
    the multi-batch drain test
    (tests/test_operators.py::test_semdedup_append_drain_equals_oneshot).

    Cost per batch: one map-side quantizer assignment over the batch
    (history moves zero bytes to assign), then one cell equi-join of
    batch x (history + batch). History is PRE-PRUNED to the batch's
    own cells by a broadcast semi-join on the <= k distinct batch
    cids before the pair join — a batch touching few cells reads few
    history cells (with the assigned store partitioned by cid on
    disk, that filter partition-prunes the scan, the
    `read_store_before` prefix-probe pattern) — so batch cost is
    ~|batch| x (touched-cell history density), never history².
    Returns (id, cid, n_dups, keep) for the BATCH rows only.

    HOT-CELL GUARD: with ``max_cell_size`` set, the same sign-LSH
    Hamming<=1 multiprobe sub-blocking as `semdedup_flags` applies to
    the batch-vs-(history+batch) pair join — without it, a
    Zipf-clustered corpus makes batch cost ~|batch| x |hot-cell
    history|, the quadratic the guard exists to bound (batch-side a
    explodes sub_bits+1 probe masks; the b side keeps its home
    bucket). Hotness is evaluated PER STEP over the pruned history +
    batch of that step — a prefix of the final corpus — so a cell
    already hot at step i stays hot at every later step (sizes only
    grow), and batch-wise guarded flags equal the one-shot guarded
    answer exactly when each touched cell is on the same side of the
    threshold at flag time as in the final corpus (always true when
    history alone crosses the threshold; pinned by
    test_semdedup_append_guard_matches_oneshot_when_history_hot). The
    default ``max_cell_size=None`` is the exact path, where batch-wise
    == one-shot unconditionally.
    """
    from usgs_lidar_spark.functions.vectors import dot, norm, sign_lsh_bucket

    def _sel(df: DataFrame) -> DataFrame:
        cols = [
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            norm(vec_col).alias("__n"),
            F.col("__cid"),
        ]
        if max_cell_size is not None:
            cols.append(sign_lsh_bucket(vec_col, sub_bits).alias("__sub"))
        return df.select(*cols)

    newly = _sel(
        ivf_assign(new_vectors, centroids, vec_col, round_digits)
    ).localCheckpoint(eager=False)
    # Bounded by k (a knob, never data): the batch's touched cells.
    bcids = newly.select("__cid").distinct()
    hist = _sel(history_assigned).join(F.broadcast(bcids), "__cid", "semi")
    b_all = hist.unionByName(newly)
    if max_cell_size is not None:
        # Same shape as semdedup_flags' guard: cell sizes are a <= k-row
        # aggregate riding back on a broadcast join; hot rows key on
        # their sign bucket, small cells pin -1 on both sides.
        hot = (
            b_all.groupBy("__cid")
            .agg(F.count(F.lit(1)).alias("__csize"))
            .filter(F.col("__csize") > int(max_cell_size))
            .select("__cid", F.lit(True).alias("__hot"))
        )

        def _key(df: DataFrame) -> DataFrame:
            return df.join(F.broadcast(hot), "__cid", "left").withColumn(
                "__key",
                F.when(F.col("__hot"), F.col("__sub")).otherwise(
                    F.lit(-1).cast("long")
                ),
            )

        masks = F.array(
            *[
                F.lit(m).cast("long")
                for m in [0] + [1 << j for j in range(sub_bits)]
            ]
        )
        a = (
            _key(newly)
            .withColumn(
                "__mask",
                F.explode(
                    F.when(F.col("__hot"), masks).otherwise(
                        F.array(F.lit(0).cast("long"))
                    )
                ),
            )
            .withColumn("__key", F.col("__key").bitwiseXOR(F.col("__mask")))
            .alias("a")
        )
        b = _key(b_all).alias("b")
        pair_cond = (
            (F.col("a.__cid") == F.col("b.__cid"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("b.__id") < F.col("a.__id"))
        )
    else:
        a, b = newly.alias("a"), b_all.alias("b")
        pair_cond = (F.col("a.__cid") == F.col("b.__cid")) & (
            F.col("b.__id") < F.col("a.__id")
        )
    cos = F.round(
        F.when(
            (F.col("a.__n") == 0) | (F.col("b.__n") == 0), F.lit(0.0)
        ).otherwise(
            dot(F.col("a.__v"), F.col("b.__v"))
            / (F.col("a.__n") * F.col("b.__n"))
        ),
        round_digits,
    )
    dups = (
        a.join(b, pair_cond)
        .filter(cos >= F.lit(float(threshold)))
        .groupBy(F.col("a.__id").alias("__id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_dups"))
    )
    return newly.join(dups, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.col("__cid").cast("long").alias("cid"),
        F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
        (F.coalesce("n_dups", F.lit(0)) == 0).alias("keep"),
    )


def _semantic_contamination_arrow(
    corpus: DataFrame,
    bench: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float,
    vec_col: str,
    id_col: str,
    round_digits: int,
    max_pack_size: int | None,
    sub_bits: int,
) -> DataFrame:
    """`semantic_contamination`'s Arrow kernel (optimization round 16,
    guide §4.2/§8) — bit-identical to the packed-expression plan: the
    benchmark is collected driver-side (the SAME budget class as the
    broadcast pack the expression form builds — eval suites are
    thousands to low millions of rows by the operator's contract),
    assigned to cells with the `arrow_exact` argmax (identical to
    `_ivf_assign_arrow` = both expression strategies), packed per cell
    (plus per-vector sign buckets when the hot-pack guard is on), and
    the whole corpus side — assignment, pack lookup, hot-cell
    Hamming<=1 gating, rounded-cosine hit counting — runs as ONE
    `mapInArrow` NumPy pass over the pruned (id, vec) scan: zero
    corpus shuffle, zero joins, one scan, replacing the per-row
    interpreted argmax + pack fold. The round-robin spread engages only
    on a tiny input (fewer splits than slots), as in every kernel
    here."""
    import numpy as np
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    from usgs_lidar_spark.functions.arrow_exact import (
        list_array_to_matrix,
        seqfold_dot,
        seqfold_sqnorm,
        spark_round_double,
    )

    cents = sorted(
        ((int(cid), [float(x) for x in cvec]) for cid, cvec in centroids),
        key=lambda t: t[0],
    )
    dims = {len(v) for _, v in cents}
    if len(dims) > 1:
        raise ValueError(f"ragged centroid dims: {sorted(dims)[:5]}")
    dim = dims.pop()
    cid_list = [c for c, _ in cents]
    cvec_list = [v for _, v in cents]
    rd = int(round_digits)
    thr = float(threshold)
    sb = int(sub_bits)
    cap = None if max_pack_size is None else int(max_pack_size)

    bvecs = [
        list(r[0])
        for r in _collect_capped(bench.select(F.col(vec_col)), "bench frame")
    ]
    bad = [len(v) for v in bvecs if len(v) != dim]
    if bad:
        raise ValueError(f"bench embedding dims {sorted(set(bad))[:5]} != {dim}")

    id_field = corpus.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("cid", LongType()),
            StructField("n_hits", LongType()),
            StructField("contaminated", BooleanType()),
        ]
    )
    def kernel(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(out_schema)
        m = len(cid_list)
        S = np.asarray(cvec_list, dtype=np.float64).reshape(m, dim)
        cids = np.asarray(cid_list, dtype=np.int64)
        snorm = np.sqrt(seqfold_sqnorm(S))
        szero = snorm == 0.0
        sub_w = np.int64(1) << np.arange(sb, dtype=np.int64)

        def assign(V):
            vnorm = np.sqrt(seqfold_sqnorm(V))
            denom = vnorm[:, None] * snorm[None, :]
            zero = (vnorm[:, None] == 0.0) | szero[None, :]
            sims = spark_round_double(
                seqfold_dot(V, S) / np.where(zero, 1.0, denom), rd
            )
            np.copyto(sims, 0.0, where=zero)
            return cids[np.argmax(sims, axis=1)], vnorm

        # Driver/first-task bench prep: assign, pack per cell, mark hot.
        B = (
            np.asarray(bvecs, dtype=np.float64).reshape(len(bvecs), dim)
            if bvecs
            else np.zeros((0, dim), dtype=np.float64)
        )
        if len(bvecs):
            bcid, bnorm = assign(B)
        else:
            bcid = np.zeros(0, dtype=np.int64)
            bnorm = np.zeros(0, dtype=np.float64)
        packs: dict = {}
        for c in np.unique(bcid):
            idx = np.nonzero(bcid == c)[0]
            hot = cap is not None and idx.size > cap
            bsub = (
                ((B[idx][:, :sb] > 0.0) @ sub_w).astype(np.int64)
                if hot
                else None
            )
            packs[int(c)] = (B[idx], bnorm[idx], hot, bsub)

        chunk = max(1, (4 * 1024 * 1024) // max(m, 1, len(bvecs)))
        for batch in batches:
            for lo in range(0, batch.num_rows, chunk):
                sub = batch.slice(lo, chunk)
                ids = sub.column(0)
                C = list_array_to_matrix(sub.column(1), expect_dim=dim)
                n = C.shape[0]
                ccid, cnorm = assign(C)
                hits = np.zeros(n, dtype=np.int64)
                for c in np.unique(ccid):
                    pack = packs.get(int(c))
                    if pack is None:
                        continue
                    P, pn, hot, bsub = pack
                    rows = np.nonzero(ccid == c)[0]
                    dots = seqfold_dot(C[rows], P)
                    denom = cnorm[rows][:, None] * pn[None, :]
                    zero = (cnorm[rows][:, None] == 0.0) | (pn[None, :] == 0.0)
                    cos = spark_round_double(
                        dots / np.where(zero, 1.0, denom), rd
                    )
                    np.copyto(cos, 0.0, where=zero)
                    ok = cos >= thr
                    if hot:
                        csub = ((C[rows][:, :sb] > 0.0) @ sub_w).astype(
                            np.int64
                        )
                        x = csub[:, None] ^ bsub[None, :]
                        # popcount via uint64 view (hamming <= 1 gate)
                        pc = np.zeros(x.shape, dtype=np.int64)
                        u = x.astype(np.uint64)
                        while u.any():
                            pc += (u & 1).astype(np.int64)
                            u >>= 1
                        ok &= pc <= 1
                    hits[rows] = ok.sum(axis=1)
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array(ccid, type=pa.int64()),
                        pa.array(hits, type=pa.int64()),
                        pa.array(hits > 0),
                    ],
                    schema=arrow_out,
                )

    c = corpus.select(F.col(id_col), F.col(vec_col))
    c = spread_for_kernel(c)
    return c.mapInArrow(kernel, out_schema)


def semantic_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    centroids: list[tuple[int, list[float]]] | DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
    broadcast_bench: bool = True,
    max_pack_size: int | None = None,
    sub_bits: int = 8,
    impl: str = "auto",
) -> DataFrame:
    """Embedding-space test-set decontamination — the SEMANTIC sibling
    of `pipeline.contaminated_docs` (token 13-grams, the GPT-3-lineage
    detector): flag every corpus document whose embedding is a near
    neighbor (rounded cosine >= ``threshold``) of ANY benchmark
    vector. Token-gram decontamination misses paraphrases and
    re-encodes (different surface bytes, same content); this is the
    pass that catches them — the decontamination analogue of what
    SemDeDup is to exact dedup (Abbas et al. 2023, arXiv:2303.09540
    §A applies the same cluster-then-compare shape across splits).

    Plan (the SemDeDup blocking, asymmetric): BOTH sides are assigned
    to their nearest coarse centroid by `ivf_assign` — a map-side
    broadcast/expression argmax inside each scan stage, so the corpus
    never shuffles to be assigned at any size — and candidate pairs
    come from the CELL equi-join of corpus x bench, never corpus x
    bench all-pairs. The benchmark side is the suite of eval/test
    exemplars — thousands to low millions of rows against a corpus of
    billions — so with ``broadcast_bench`` (the default) the assigned
    bench frame ships as a broadcast hash join build side and the
    pair search runs inside the corpus scan stage: ZERO corpus
    shuffle end-to-end. Set it False past the broadcast budget and
    the same plan degrades to a cell-keyed shuffle join (bench-side
    cells are the build of AQE's choosing). A corpus document whose
    only near-duplicate benchmark vector sits in a DIFFERENT cell is
    missed — the same documented blocking relaxation as
    `semdedup_flags`, mirrored exactly by the SQL oracle of
    `pipe_semantic_decontamination`, so the flag DECISION is
    cross-engine hash-stable, not merely approximate.

    Returns the audit form over every corpus row: (id, cid, n_hits,
    contaminated) — n_hits counts the row's above-threshold same-cell
    benchmark neighbors; a training pipeline drops `contaminated` and
    keeps the rest (the decision is per-corpus-row, so flags for a
    fixed benchmark are immutable under corpus appends: new corpus
    rows can be flagged incrementally with this same operator over
    the batch alone).

    Why packed candidates instead of pair-join + regroup: the first
    draft joined corpus x bench rows and grouped the hit PAIRS back by
    corpus id to count them — and that re-join on row id compiled to a
    SortMergeJoin that shuffles the whole CORPUS (AQE rescues it at
    runtime when the hit set is small; NO_AQE pays the full exchange —
    exactly the plan-bomb class the REPLICA sweep exists to catch).
    Packing the assigned bench one row per cell (`collect_list` of
    (vector, norm) structs — bench-per-cell bounded, the same contract
    as `ivf_assign_two_level`'s candidate packs) lets each corpus row
    count its hits INLINE with one higher-order fold over its cell's
    pack: same candidate pairs, same rounded cosines, zero corpus
    exchange in the static plan and no second join at any size.

    HOT-PACK GUARD (the `semdedup_flags` hot-cell guard, transplanted to
    the asymmetric join). Real benchmarks are topically CLUSTERED — a
    million-exemplar eval suite can park a large fraction of its vectors
    in one cell, and every corpus row in that cell then pays a fold
    linear in the hot pack. With ``max_pack_size`` set, any bench cell
    larger than it is secondarily packed by the deterministic sign-LSH
    bucket of the first ``sub_bits`` dimensions, and the Hamming<=1
    multiprobe is pre-expanded on the BENCH side: each hot-cell bench
    vector lands in its home bucket's pack and each of the ``sub_bits``
    one-bit-flip packs, so the pack at key k holds exactly the bench
    vectors within Hamming 1 of k and the corpus still performs ONE
    equi-join on its own (cell, key) — no corpus-side probe explosion,
    no extra joins, zero corpus exchange as before (a bench vector
    appears at most once per pack, so no row ever double-counts it).
    Cells at or under the cap keep the exact per-cell pack (key -1 on
    both sides). Semantics under the guard: a hot-cell pair is counted
    only if its sign patterns differ in at most one of the leading
    ``sub_bits`` — true near-duplicates (cosine >= 0.99) disagree on a
    sign only where a coordinate sits at zero, the same pigeonhole
    contract as the SemDeDup guard, and the relaxation is mirrored
    EXACTLY by the SQL oracle of `pipe_semantic_decon_hotbench`
    (bit_count(xor) <= 1). ``max_pack_size=None`` (default) is
    byte-for-byte the unguarded plan. The expansion multiplies the hot
    packs by ~(sub_bits+1)/2^sub_bits of their pairings: bench-side
    memory grows by at most (sub_bits+1)x on hot cells — bounded by the
    bench's own size, never the corpus. Residual margin (the SemDeDup
    degenerate regime, transplanted): a benchmark with massive INTERNAL
    duplication — one exemplar re-encoded 10^5x — shares a single sign
    pattern, lands in one jammed pack, and the guard cannot split it.
    The principled fix is compositional, not a new knob: SemDeDup the
    benchmark itself first (`semdedup_flags` over the bench, keepers
    only) — in this regime the copies are cosine-~1 rescales that land
    in their keeper's cell, so for the contaminated DECISION the
    deduplicated benchmark flags exactly the rows every copy would
    (n_hits audit counts shrink; the decision is what matters
    downstream).

    ``impl``: ``"auto"`` (default) runs the Arrow kernel
    (`_semantic_contamination_arrow` — one `mapInArrow` pass fusing
    assignment, pack lookup, the hot-pack gate and hit counting, bit-
    identical and ~3x faster than the interpreted folds) whenever the
    kernel's preconditions hold: a broadcastable bench
    (``broadcast_bench``), a non-empty driver-side centroid list, and
    default column shapes. ``"expr"`` forces the packed-expression
    plan (the only strategy for a distributed quantizer or a
    non-broadcastable bench)."""
    from usgs_lidar_spark.functions.vectors import dot, norm, sign_lsh_bucket

    if impl not in ("auto", "expr"):
        raise ValueError(f"unknown semantic_contamination impl: {impl!r}")
    if (
        impl == "auto"
        and broadcast_bench
        and not isinstance(centroids, DataFrame)
        and centroids
    ):
        try:
            return _semantic_contamination_arrow(
                corpus, bench, centroids, threshold, vec_col, id_col,
                round_digits, max_pack_size, sub_bits,
            )
        except _KernelBudgetExceeded as e:
            # Row budget on the kernel's driver-side bench collect
            # (round 17, VERDICT-r16 item 7): over the cap, the packed-
            # expression plan below computes the identical result with
            # the bench as a distributed/broadcast frame.
            import warnings

            warnings.warn(str(e), stacklevel=2)

    ca_cols = [
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm(vec_col).alias("__n"),
        F.col("__cid"),
    ]
    if max_pack_size is not None:
        ca_cols.append(sign_lsh_bucket(vec_col, sub_bits).alias("__sub"))
    ca = ivf_assign(corpus, centroids, vec_col, round_digits).select(*ca_cols)
    b_cols = [
        F.col("__cid").alias("__bcid"),
        F.struct(
            F.col(vec_col).alias("v"), norm(vec_col).alias("n")
        ).alias("__cand"),
    ]
    if max_pack_size is not None:
        b_cols.append(sign_lsh_bucket(vec_col, sub_bits).alias("__bsub"))
    ba = ivf_assign(bench, centroids, vec_col, round_digits).select(*b_cols)
    if max_pack_size is None:
        bcells = ba.groupBy("__bcid").agg(
            F.collect_list("__cand").alias("__cands")
        )
        join_cond = F.col("__cid") == F.col("__bcid")
    else:
        # Hot bench cells (pack over the cap): a <= k-row aggregate,
        # broadcast back — same shape as the semdedup hot-cell stats.
        hot = (
            ba.groupBy("__bcid")
            .agg(F.count(F.lit(1)).alias("__psize"))
            .filter(F.col("__psize") > int(max_pack_size))
            .select("__bcid", F.lit(True).alias("__hot"))
        )
        masks = F.array(
            *[
                F.lit(m).cast("long")
                for m in [0] + [1 << j for j in range(sub_bits)]
            ]
        )
        # Pre-expand Hamming<=1 on the bench side: hot vectors explode
        # home + one-bit-flip keys; cold cells pack once under key -1
        # (-1 ^ 0 == -1 keeps the single mask a no-op).
        bkeyed = (
            ba.join(F.broadcast(hot), "__bcid", "left")
            .withColumn(
                "__key0",
                F.when(F.col("__hot"), F.col("__bsub")).otherwise(
                    F.lit(-1).cast("long")
                ),
            )
            .withColumn(
                "__mask",
                F.explode(
                    F.when(F.col("__hot"), masks).otherwise(
                        F.array(F.lit(0).cast("long"))
                    )
                ),
            )
            .withColumn("__bkey", F.col("__key0").bitwiseXOR(F.col("__mask")))
        )
        bcells = bkeyed.groupBy("__bcid", "__bkey").agg(
            F.collect_list("__cand").alias("__cands")
        )
        ca = ca.join(F.broadcast(hot.withColumnRenamed("__bcid", "__cid")),
                     "__cid", "left").withColumn(
            "__key",
            F.when(F.col("__hot"), F.col("__sub")).otherwise(
                F.lit(-1).cast("long")
            ),
        )
        join_cond = (F.col("__cid") == F.col("__bcid")) & (
            F.col("__key") == F.col("__bkey")
        )
    if broadcast_bench:
        bcells = F.broadcast(bcells)

    def _is_hit(c):
        cos = F.round(
            F.when(
                (F.col("__n") == 0) | (c["n"] == 0), F.lit(0.0)
            ).otherwise(
                dot(F.col("__v"), c["v"]) / (F.col("__n") * c["n"])
            ),
            round_digits,
        )
        return F.when(
            cos >= F.lit(float(threshold)), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    n_hits = F.coalesce(
        F.aggregate(
            "__cands", F.lit(0).cast("long"), lambda acc, c: acc + _is_hit(c)
        ),
        F.lit(0).cast("long"),
    )
    return (
        ca.join(bcells, join_cond, "left")
        .withColumn("n_hits", n_hits)
        .select(
            F.col("__id").alias(id_col),
            F.col("__cid").cast("long").alias("cid"),
            F.col("n_hits"),
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def ivf_append(
    base_assigned: DataFrame,
    new_vectors: DataFrame,
    centroids: list[tuple[int, list[float]]] | DataFrame,
    vec_col: str = "embedding",
    round_digits: int = 4,
    method: str = "auto",
) -> DataFrame:
    """Incremental IVF index append: assign ONLY the new vectors with the
    EXISTING coarse quantizer and union them into the already-assigned
    base — no k-means re-run, no touch of the base corpus.

    This is the streaming-corpus maintenance path: appending a batch
    costs one map-only assignment over the batch (the base rows move
    zero bytes), vs a full rebuild costing n_iter scans + aggregates of
    the WHOLE corpus. The price is quantizer staleness — new data may
    cluster where the old centroids aren't; measure it with
    `ivf_drift_metrics` and rebuild when the drift crosses the caller's
    threshold (assignments are identical to a from-scratch assign with
    the same centroids — parity pinned by the sim_ivf_append_parity
    oracle query — so the INDEX is never wrong, only less selective).

    ``base_assigned`` must carry ivf_assign's output columns (`__cid`,
    optionally `__csim`); the new side gets the same treatment
    (keep_sim inferred) and is column-aligned before the union.
    """
    newly = ivf_assign(
        new_vectors,
        centroids,
        vec_col,
        round_digits,
        method,
        keep_sim="__csim" in base_assigned.columns,
    )
    return base_assigned.unionByName(newly.select(*base_assigned.columns))


def ivf_drift_metrics(
    corpus: DataFrame,
    centroids_old: list[tuple[int, list[float]]],
    centroids_new: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    round_digits: int = 4,
    method: str = "auto",
) -> DataFrame:
    """Per-cell staleness report for an incrementally-maintained IVF
    index: under the CURRENT quantizer (`centroids_old`), each cell's
    occupancy and mean cosine-to-centroid (exact scaled-integer mean),
    plus how many of its vectors a CANDIDATE quantizer (`centroids_new`,
    e.g. a kmeans_refine output) would reassign — the rebuild-decision
    signal.

    One pass: both assignments are map-only expression argmaxes attached
    to the same scan, followed by a single groupBy(cid) aggregate; shuffle
    volume is one row per cell. Returns (cid, n, sum_csim_e4, mean_csim,
    n_moved, moved_frac) — `sum_csim_e4` is the EXACT scaled-integer sum
    of per-row quantization cosines (BIGINT, order-independent,
    bit-reproducible across engines/layouts); `mean_csim`/`moved_frac`
    are the derived DOUBLE conveniences (sum_csim_e4/(1e4*n), n_moved/n)
    for human consumption. Cross-engine comparisons should use the
    integer columns."""
    scale = 10**round_digits
    both = ivf_assign(
        ivf_assign(
            corpus, centroids_old, vec_col, round_digits, method, keep_sim=True
        )
        .withColumnRenamed("__cid", "__cid_old")
        .withColumnRenamed("__csim", "__csim_old"),
        centroids_new,
        vec_col,
        round_digits,
        method,
    )
    return (
        both.groupBy(F.col("__cid_old").alias("cid"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("__csim_old") * scale).cast("long"))
            .alias("sum_csim_e4"),
            F.sum(
                F.when(F.col("__cid") != F.col("__cid_old"), 1).otherwise(0)
            ).cast("long").alias("n_moved"),
        )
        .withColumn(
            "mean_csim",
            F.col("sum_csim_e4") / (F.lit(float(scale)) * F.col("n")),
        )
        .withColumn("moved_frac", F.col("n_moved") / F.col("n"))
        .select("cid", "n", "sum_csim_e4", "mean_csim", "n_moved", "moved_frac")
    )


def _quantize_centroids_exact(
    centroids: list[tuple[int, list[float]]], qbits: int
) -> list[tuple[int, list[int], int]]:
    """Driver-side mirror of `quantize_exact`: (cid, qvec, |qvec|²) per
    centroid. Python floats ARE IEEE doubles, so ``floor(x * 2**qbits)``
    here produces bit-identical integers to the Spark/DuckDB expression —
    the quantizer constants are engine-free by construction."""
    import math

    s = 2.0**qbits
    out = []
    for cid, cvec in centroids:
        q = [math.floor(float(x) * s) for x in cvec]
        out.append((int(cid), q, sum(v * v for v in q)))
    return out


def _exact_argmax_structs(qvec_col, qcents: list[tuple[int, list[int], int]]):
    """array<struct<key, negcid, qdot>> over quantized centroids. `key` is
    ``dot_q / sqrt(|qc|²)`` — monotone in cosine for a fixed row vector —
    computed from EXACT integer inputs through two correctly-rounded IEEE
    ops (sqrt, divide), so the double is identical in any engine; the
    knife-edge decimal ROUND the float path needs is gone entirely.
    array_max picks (max key, then max negcid = min cid): the same
    (sim DESC, cid ASC) tie contract as the float path.

    ``qvec_col`` is the quantized vector COLUMN NAME. Built as ONE SQL
    string parsed JVM-side (optimization round 16, guide §7.3 — the
    Column-API form cost ~k*(dim+12) py4j round trips per construction);
    analyzed plan semantically equal to that form (sameResult pinned by
    `test_sqlbuild_parity.py`), so results and cache reuse are
    untouched."""
    import math

    from usgs_lidar_spark.functions.sqlbuild import dlit, qident

    v = qident(qvec_col)
    entries = []
    for cid, qc, nq in qcents:
        arr = "array(" + ", ".join(f"CAST({int(x)} AS BIGINT)" for x in qc) + ")"
        d = (
            f"aggregate(zip_with({v}, {arr}, (x, y) -> x * y), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        if nq == 0:
            key = "0.0D"
        else:
            key = f"CAST({d} AS DOUBLE) / {dlit(math.sqrt(float(nq)))}"
        entries.append(
            f"named_struct('key', {key}, "
            f"'negcid', CAST({-int(cid)} AS BIGINT), 'qdot', {d})"
        )
    return F.expr("array(" + ", ".join(entries) + ")")


def _quant_assign_kernel_parts(centroids, qbits):
    """Driver-side prep shared by the quantized-exact Arrow kernels:
    cid-ASCENDING (cids, Qc matrix, |qc|² vector) NumPy views of
    `_quantize_centroids_exact`. First-occurrence argmax over the
    ascending order reproduces the expression path's struct-max
    (max key, then min cid) exactly."""
    import numpy as np

    qc = sorted(_quantize_centroids_exact(centroids, qbits))
    cids = np.asarray([c for c, _, _ in qc], dtype=np.int64)
    dim = len(qc[0][1]) if qc else 0
    Qc = np.asarray([q for _, q, _ in qc], dtype=np.int64).reshape(
        len(qc), dim
    )
    nq = np.asarray([n for _, _, n in qc], dtype=np.int64)
    return cids, Qc, nq


def _quant_assign_np(Q, Qc, nq):
    """Quantized argmax of `_exact_argmax_structs`, vectorized: int64
    dots (matmul — integer addition is associative, and even silent
    wraparound is mod-2^64 on BOTH engines, so ANY summation order is
    bit-identical to the sequential fold), key = double(qdot)/sqrt(|qc|²)
    (two correctly-rounded IEEE ops, 0.0 for a zero-norm centroid), and
    a first-occurrence argmax over cid-ascending centroids (= max key,
    min cid on ties). Returns (best index per row, dots matrix)."""
    import numpy as np

    dots = Q @ Qc.T
    zero = nq == 0
    key = dots.astype(np.float64) / np.sqrt(
        np.where(zero, 1, nq).astype(np.float64)
    )
    if zero.any():
        key[:, zero] = 0.0
    return np.argmax(key, axis=1), dots


def ivf_drift_metrics_exact(
    corpus: DataFrame,
    centroids_old: list[tuple[int, list[float]]],
    centroids_new: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    qbits: int = 20,
    impl: str = "auto",
) -> DataFrame:
    """Bit-reproducible rebuild-decision metrics for an IVF index — the
    hash-stable sibling of `ivf_drift_metrics`.

    The float form's summed ``ROUND(cos, 4)`` proved to be a cross-
    environment knife edge (a last-ulp difference in any one of the
    corpus's dot products flips a half-way decimal rounding and shifts
    the per-cell sum — observed as driver-red in rounds 5/6 while every
    local replica layout passed). This form removes every rounding
    decision instead of coarsening it: vectors and centroids are
    quantized with `quantize_exact` (floor of a power-of-two multiple —
    no rounding anywhere), assignment argmax orders by
    ``qdot/sqrt(|qc|²)`` (exact integer inputs, correctly-rounded IEEE
    sqrt/divide → identical doubles in Spark, DuckDB, Python), and the
    reported metrics are pure BIGINTs: per current cell, occupancy `n`,
    the EXACT integer sum of quantized dots-to-centroid `sum_qdot`
    (order-independent integer addition — the quantization-quality
    signal), and `n_moved` vectors the candidate quantizer would
    reassign.

    Same plan shape as the float form: both argmaxes are map-side
    expressions on one scan, then a single groupBy(cid) — shuffle is one
    row per cell. The two argmax structs are evaluated exactly once per
    row behind an explode(array(struct(...))) Generate barrier —
    extracting three fields from them in a plain projection lets
    CollapseProject inline the whole 8-dot chain per field (3x the
    argmax text in the plan; runtime subexpression elimination mostly
    recovers it, but the barrier makes single evaluation structural,
    plan-provable, and ~1.5x faster on a cold JIT — A/B in BENCH_NOTES).

    Int64 envelope (exactness bound): per-row qdot is <= dim * 2^(2*qbits)
    (~2^46 at qbits=20, dim=64 for unit-scale inputs), so SUM(qdot) stays
    inside int64 for up to ~2^17 ~= 131k rows per cell at worst-case
    magnitudes — and ~2^26 (~67M rows/cell) for typical |x| <= 0.1
    embedding components. Beyond that Spark's long wraps silently while
    DuckDB's HUGEINT->BIGINT cast errors; lower qbits (the sum bound
    scales as 2^-2*qbits per bit removed) or shard cells before trusting
    the cross-engine hash at larger cell cardinalities.

    ``impl``: ``"auto"`` (default) picks the Arrow kernel (optimization
    round 16) once the quantizer exceeds the literal-expression budget
    (`_EXPR_PATH_MAX_K`/`_EXPR_PATH_MAX_NODES` — the same rule as
    `ivf_assign`): both quantized argmaxes run as one int64 matmul pass
    with PER-TASK PARTIAL AGGREGATION in the kernel (guide §2.3: the
    shuffle then carries tasks x cells partial rows instead of one row
    per corpus vector), bit-identical because every aggregated quantity
    is an int64 whose addition is associative even under wraparound.
    Below the budget the literal-unrolled expression plan measured
    faster (0.66 s vs 0.73 s at k=8, sf0.1 — no Python roundtrip) and
    stays the default; ``"kernel"``/``"expr"`` force either."""
    from usgs_lidar_spark.functions.vectors import quantize_exact

    if impl not in ("auto", "kernel", "expr"):
        raise ValueError(f"unknown ivf_drift_metrics_exact impl: {impl!r}")
    if impl == "auto":
        dim0 = len(centroids_old[0][1]) if centroids_old else 0
        k_tot = len(centroids_old) + len(centroids_new)
        impl = (
            "expr"
            if k_tot <= _EXPR_PATH_MAX_K
            and k_tot * dim0 <= 2 * _EXPR_PATH_MAX_NODES
            else "kernel"
        )
    if impl == "kernel" and centroids_old and centroids_new:
        import numpy as np
        from pyspark.sql.types import LongType, StructField, StructType

        from usgs_lidar_spark.functions.arrow_exact import (
            list_array_to_matrix,
        )

        ocids, oQc, onq = _quant_assign_kernel_parts(centroids_old, qbits)
        ncids, nQc, nnq = _quant_assign_kernel_parts(centroids_new, qbits)
        dim = oQc.shape[1]
        if nQc.shape[1] != dim:
            raise ValueError(
                f"centroid dims differ: old {dim} vs new {nQc.shape[1]}"
            )
        scale = float(2**qbits)
        out_schema = StructType(
            [
                StructField("cid", LongType()),
                StructField("n", LongType()),
                StructField("sum_qdot", LongType()),
                StructField("n_moved", LongType()),
            ]
        )

        def kernel(batches):
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_out = to_arrow_schema(out_schema)
            acc: dict = {}
            for batch in batches:
                for lo in range(0, batch.num_rows, 65536):
                    sub = batch.slice(lo, 65536)
                    C = list_array_to_matrix(sub.column(0), expect_dim=dim)
                    Q = np.floor(C * scale).astype(np.int64)
                    bo, dots = _quant_assign_np(Q, oQc, onq)
                    bn, _ = _quant_assign_np(Q, nQc, nnq)
                    qdot = dots[np.arange(len(bo)), bo]
                    moved = (ncids[bn] != ocids[bo]).astype(np.int64)
                    for c in np.unique(bo):
                        rows = bo == c
                        cur = acc.setdefault(int(ocids[c]), [0, 0, 0])
                        cur[0] += int(rows.sum())
                        cur[1] += int(qdot[rows].sum())
                        cur[2] += int(moved[rows].sum())
            if acc:
                cids_out = sorted(acc)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(cids_out, type=pa.int64()),
                        pa.array([acc[c][0] for c in cids_out], pa.int64()),
                        pa.array(
                            [
                                (acc[c][1] + 2**63) % 2**64 - 2**63
                                for c in cids_out
                            ],
                            pa.int64(),
                        ),
                        pa.array([acc[c][2] for c in cids_out], pa.int64()),
                    ],
                    schema=arrow_out,
                )

        c = corpus.select(F.col(vec_col))
        c = spread_for_kernel(c)
        return (
            c.mapInArrow(kernel, out_schema)
            .groupBy("cid")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_qdot").alias("sum_qdot"),
                F.sum("n_moved").alias("n_moved"),
            )
        )

    qold = _quantize_centroids_exact(centroids_old, qbits)
    qnew = _quantize_centroids_exact(centroids_new, qbits)
    df = corpus.withColumn("__qv", quantize_exact(vec_col, qbits))
    bo = F.array_max(_exact_argmax_structs("__qv", qold))
    bn = F.array_max(_exact_argmax_structs("__qv", qnew))
    assigned = df.select(
        F.explode(F.array(F.struct(bo.alias("o"), bn.alias("n")))).alias(
            "__best"
        )
    ).select(
        (-F.col("__best.o.negcid")).alias("__cid_old"),
        F.col("__best.o.qdot").alias("__qdot_old"),
        (-F.col("__best.n.negcid")).alias("__cid_new"),
    )
    return assigned.groupBy(F.col("__cid_old").alias("cid")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__qdot_old").alias("sum_qdot"),
        F.sum(F.when(F.col("__cid_new") != F.col("__cid_old"), 1).otherwise(0))
        .cast("long")
        .alias("n_moved"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
    method: str = "auto",
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their nearest-centroid cell;
    each query probes its `n_probe` nearest cells and ranks exact cosine
    within them. The cell equi-join replaces the cross product — each
    query touches ~n_probe/k of the corpus. Deterministic end to end:
    cell assignment and probe order break ties on centroid id, the final
    rank on (rounded sim DESC, corpus id ASC). ``method`` picks the
    quantizer strategy on both sides (see `_with_centroid_sims`): at real
    quantizer sizes the broadcast path keeps the plan O(1) in k."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    cb = ivf_assign(corpus, centroids, vec_col, round_digits, method).withColumn(
        "__cnorm", norm(vec_col)
    )
    # Query side: sort the centroid-sim structs descending, take n_probe,
    # explode into one probe row per cell. Probe cells are pairwise
    # distinct, so a corpus vector meets a query at most once.
    qdf, sims, _qtmp = _with_centroid_sims(
        queries, centroids, vec_col, round_digits, method
    )  # _qtmp (if any) is discarded by the narrowing select below
    probes = F.slice(F.sort_array(sims, asc=False), 1, n_probe)
    qb = qdf.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
        F.explode(probes).alias("__p"),
    ).select(
        query_id_col, "__qvec", "__qnorm", (-F.col("__p.negcid")).alias("__cid")
    )
    joined = cb.join(F.broadcast(qb), "__cid").filter(
        F.col(query_id_col) != F.col(id_col)
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(dot(vec_col, "__qvec") / (F.col("__cnorm") * F.col("__qnorm")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("sim", F.round(raw, round_digits))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "sim", "rank")
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    vec_col: str = "embedding",
    round_digits: int = 4,
    method: str = "auto",
) -> None:
    """Materialize the IVF index as a CELL-PARTITIONED parquet dataset:
    one hive partition per coarse cell (`cid=<n>/`), plus the quantizer
    as a `_centroids` parquet sidecar (leading underscore — readers of
    the data dirs ignore it). The layout IS the index: a probe of
    n_probe cells becomes a partition-pruned scan that never opens the
    other cells' files — the on-disk analog of the in-memory cell
    equi-join, and what turns a 100 TB corpus probe into reading
    ~n_probe/k of the bytes. Repeated-query serving reads this instead
    of re-assigning the corpus per query batch (`ivf_append` handles
    incremental growth; rewrite the touched partitions)."""
    from usgs_lidar_spark.operators.retrieval import _write_schema_sidecar

    spark = corpus.sparkSession
    assigned = ivf_assign(corpus, centroids, vec_col, round_digits, method)
    cells = assigned.withColumnRenamed("__cid", "cid")
    cells.write.mode("overwrite").partitionBy("cid").parquet(path)
    # schema sidecar: an EMPTY corpus writes no cell files; readers
    # reconstruct the empty frame from this (empty-index bootstrap).
    _write_schema_sidecar(cells, path)
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cid bigint, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    round_digits: int = 4,
    method: str = "auto",
) -> None:
    """Incrementally grow a `write_ivf_index` dataset: assign ONLY the
    new batch with the STORED quantizer (sidecar) and append its rows
    into the existing cell partitions — the persisted twin of
    `ivf_append` (same invariant: indistinguishable from a full
    re-assign with the same centroids, so the index is never wrong, only
    staler; watch `ivf_drift_metrics` for the rebuild signal). This is
    the `foreachBatch` body for a streaming corpus: each micro-batch
    costs one map-only assignment + an append write touching only the
    batch's cells' directories."""
    spark = new_vectors.sparkSession
    centroids = read_ivf_centroids(spark, path)
    assigned = ivf_assign(new_vectors, centroids, vec_col, round_digits, method)
    assigned.withColumnRenamed("__cid", "cid").write.mode(
        "append"
    ).partitionBy("cid").parquet(path)


def read_ivf_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """The quantizer sidecar back as the driver-side centroid list
    (k rows — kilobytes by contract), sorted by cid."""
    return sorted(
        (int(r["cid"]), list(r["cvec"]))
        for r in spark.read.parquet(f"{path}/_centroids").collect()
    )


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
    method: str = "auto",
) -> DataFrame:
    """`ivf_topk` against a `write_ivf_index` dataset: identical ranking
    contract (parity test-pinned), but the corpus side is the stored
    cell-partitioned layout restricted to the UNION OF PROBED CELLS with
    a literal isin() — Spark's partition pruning then skips every other
    cell's directory at plan time (asserted via inputFiles in the test).
    The probed-cell set is collected driver-side; it is bounded by
    n_queries * n_probe and the query matrix is small by the module's
    contract (see cosine_topk_bruteforce_arrow's max_queries note)."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    centroids = read_ivf_centroids(spark, path)
    qdf, sims, _qtmp = _with_centroid_sims(
        queries, centroids, vec_col, round_digits, method
    )
    probes = F.slice(F.sort_array(sims, asc=False), 1, n_probe)
    qb = qdf.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
        F.explode(probes).alias("__p"),
    ).select(
        query_id_col, "__qvec", "__qnorm", (-F.col("__p.negcid")).alias("__cid")
    )
    from usgs_lidar_spark.operators.retrieval import (
        _read_with_schema_fallback,
    )

    cells = sorted(
        {int(r["__cid"]) for r in qb.select("__cid").distinct().collect()}
    )
    cb = (
        _read_with_schema_fallback(spark, path)
        # `or [-1]`: zero queries -> zero probed cells; isin() needs a
        # non-empty list, and no partition is cid=-1.
        .filter(F.col("cid").isin(cells or [-1]))
        .withColumnRenamed("cid", "__cid")
        .withColumn("__cnorm", norm(vec_col))
    )
    joined = cb.join(F.broadcast(qb), "__cid").filter(
        F.col(query_id_col) != F.col(id_col)
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(dot(vec_col, "__qvec") / (F.col("__cnorm") * F.col("__qnorm")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("sim", F.round(raw, round_digits))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "sim", "rank")
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    dim: int | None = None,
    n_iter: int = 2,
    round_digits: int = 4,
    method: str = "auto",
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the coarse quantizer: assign (expression-only,
    see ivf_assign) then recompute each centroid as the per-dimension mean
    of its cell — `dim` JVM-side AVG aggregates, one shuffle per
    iteration, shuffle volume bounded by k*dim not corpus size. Empty
    cells keep their previous centroid. Returns the refined driver-side
    centroid list (it is the INDEX, not data — k*dim floats)."""
    if dim is None:
        dim = len(centroids[0][1])
    for _ in range(n_iter):
        assigned = ivf_assign(corpus, centroids, vec_col, round_digits, method)
        means = assigned.groupBy("__cid").agg(
            *[
                F.avg(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(
                    f"d{i}"
                )
                for i in range(dim)
            ]
        )
        got = {
            int(r["__cid"]): [float(r[f"d{i}"]) for i in range(dim)]
            for r in means.collect()
        }
        centroids = [(cid, got.get(cid, old)) for cid, old in centroids]
    return centroids


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_id_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact result.

    Both inputs are top-k outputs — (query_id, neighbor_id, ...) with at
    most k rows per query — so this is bounded-size metric plumbing, not a
    data-scale operator: the hit join carries n_queries*k rows per side and
    shuffles on (query, neighbor). Queries whose approximate set misses
    every true neighbor still appear, with recall 0.0 (left join from the
    exact side's per-query counts).

    Output: (query_id, n_hit, n_exact, recall) — recall = n_hit/n_exact,
    exact in binary for k <= 2^52 so it is safe for hash comparison.
    """
    ex_ids = exact.select(query_id_col, neighbor_col)
    n_exact = ex_ids.groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    hits = (
        approx.select(query_id_col, neighbor_col)
        .join(ex_ids, [query_id_col, neighbor_col], "inner")
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    return n_exact.join(hits, query_id_col, "left").select(
        query_id_col,
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.col("n_exact"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact")
        ).alias("recall"),
    )


# ---------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN
# ---------------------------------------------------------------------

def pq_codebooks_from_rows(
    vectors: list[list[float]], n_sub: int
) -> list[list[tuple[int, list[float]]]]:
    """Build per-subspace codebooks from seed vectors: subspace j's codes
    are the j-th slices of the seeds (code id = seed position). The same
    deterministic-quantizer trick as the IVF queries — reproducible in
    ANSI SQL, swap in k-means sub-codebooks for production recall."""
    if not vectors:
        raise ValueError("need at least one seed vector")
    dim = len(vectors[0])
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    return [
        [(c, v[j * sub : (j + 1) * sub]) for c, v in enumerate(vectors)]
        for j in range(n_sub)
    ]


def _sq_dist(a, b) -> F.Column:
    """Rounded squared L2 distance between two array columns (4 decimals:
    collapses libm ulps so argmin/sums hash-match any engine)."""
    return F.round(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        4,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    with_error: bool = False,
) -> DataFrame:
    """Encode vectors to per-subspace code ids (array<int>): for each
    subspace, argmin of squared L2 distance to the sub-codebook, ties to
    the lower code id.

    Expression-only and map-side: each subspace's argmin is an array_min
    over a (dist, code) struct array built from literal code vectors — no
    shuffle, no UDF, corpus never moves. 64 floats become n_sub bytes'
    worth of codes: the 100 TB memory story of IVF-PQ.

    ``with_error=True`` also emits ``pq_err``: the row's total squared
    quantization error (sum of the winning distances) — computed from the
    same argmin structs, so error consumers don't re-derive distances."""
    sub = len(codebooks[0][0][1])
    best = []
    for j, cb in enumerate(codebooks):
        slice_j = F.slice(F.col(vec_col), j * sub + 1, sub)
        cands = F.array(
            *[
                F.struct(
                    _sq_dist(
                        slice_j, F.array(*[F.lit(float(x)) for x in cvec])
                    ).alias("d"),
                    F.lit(int(c)).alias("c"),
                )
                for c, cvec in cb
            ]
        )
        best.append(F.array_min(cands))
    out = df.withColumn(codes_col, F.array(*[b["c"] for b in best]))
    if with_error:
        err = best[0]["d"]
        for b in best[1:]:
            err = err + b["d"]
        out = out.withColumn("pq_err", err)
    return out


#: Fixed-point scale for ADC sums: each LUT entry carries 4 decimals, so
#: scaled-BIGINT sums are partition-order-independent and oracle-exact.
_ADC_SCALE = 10000


def _pq_lut(
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query ADC lookup table: (query_id, j, code, d_scaled) — the
    rounded, fixed-point squared distance from each query's j-th subvector
    to each code. Tiny (nq * n_sub * n_codes rows); callers broadcast it."""
    sub = len(codebooks[0][0][1])
    cb_rows = [
        (j, int(c), [float(x) for x in cvec])
        for j, cb in enumerate(codebooks)
        for c, cvec in cb
    ]
    cb_df = queries.sparkSession.createDataFrame(
        cb_rows, "j int, code int, cvec array<double>"
    )
    return queries.crossJoin(F.broadcast(cb_df)).select(
        F.col(query_id_col),
        "j",
        "code",
        F.round(
            _sq_dist(
                F.slice(F.col(vec_col), F.col("j") * sub + 1, sub), F.col("cvec")
            )
            * _ADC_SCALE
        )
        .cast("long")
        .alias("d_scaled"),
    )


def _adc_rank(scored: DataFrame, query_id_col: str, k: int) -> DataFrame:
    """Final ADC ranking: (adc_scaled ASC, neighbor_id ASC) window top-k,
    descaling the fixed-point sum into adc_dist."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_scaled").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            (F.col("adc_scaled") / float(_ADC_SCALE)).alias("adc_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per-query lookup tables
    (query-slice -> each code's squared distance) replace all full-vector
    arithmetic on the corpus side.

    Plan: encode corpus (map-side), posexplode codes to (id, j, code);
    LUT = queries x codebook entries (tiny: nq * n_sub * n_codes rows,
    broadcast); equi-join on (j, code); partial-aggregated sum keyed by
    (query, id); window top-k. The corpus-side shuffle carries code ids
    and scaled-long partial sums only — never vectors. Distances sum as
    scaled BIGINTs (each term carries 4 decimals) so the total is
    partition-order-independent and oracle-exact.
    """
    lut = _pq_lut(queries, codebooks, query_id_col, vec_col)
    codes = pq_encode(corpus, codebooks, vec_col=vec_col)
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("pq_codes").alias("j", "code"),
    )
    scored = (
        exploded.join(F.broadcast(lut), ["j", "code"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.sum("d_scaled").alias("adc_scaled"))
    )
    return _adc_rank(scored, query_id_col, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
    method: str = "auto",
) -> DataFrame:
    """IVF-PQ: the canonical billion-scale ANN composition — the coarse
    quantizer restricts each query to ~n_probe/n_cells of the corpus, and
    ranking inside the probed cells runs in the COMPRESSED domain
    (asymmetric distance over PQ codes), so full vectors are touched
    exactly once, at encode time.

    Corpus side is entirely map-side (cell assignment + code argmin in
    the scan stage); query cells and LUTs broadcast; the only shuffle
    carries (query, neighbor, scaled-long partial sums). With n_probe =
    n_cells this degrades gracefully to exhaustive pq_adc_topk (pinned by
    test)."""
    enc = pq_encode(
        ivf_assign(corpus, centroids, vec_col, round_digits, method),
        codebooks,
        vec_col=vec_col,
    )
    exploded = enc.select(
        F.col(id_col).alias("neighbor_id"),
        "__cid",
        F.posexplode("pq_codes").alias("j", "code"),
    )
    qdf, sims, _qtmp = _with_centroid_sims(
        queries, centroids, vec_col, round_digits, method
    )
    probes = F.slice(F.sort_array(sims, asc=False), 1, n_probe)
    qcells = qdf.select(
        F.col(query_id_col), F.explode(probes).alias("__p")
    ).select(query_id_col, (-F.col("__p.negcid")).alias("__cid"))
    lut = _pq_lut(queries, codebooks, query_id_col, vec_col)
    scored = (
        exploded.join(F.broadcast(qcells), "__cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .join(F.broadcast(lut), [query_id_col, "j", "code"])
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.sum("d_scaled").alias("adc_scaled"))
    )
    return _adc_rank(scored, query_id_col, k)


def pq_refine_codebooks(
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    n_iter: int = 3,
) -> list[list[tuple[int, list[float]]]]:
    """Lloyd refinement of the PQ sub-codebooks: per subspace, each code
    moves to the mean of its assigned subvector slices (n_iter rounds).

    Same discipline as the IVF `kmeans_refine`: the per-round shuffle
    carries (subspace, code) partial sums — n_sub * n_codes groups, never
    vectors to the driver beyond the n_sub*n_codes*sub_dim centroid
    matrix itself (kilobytes). Codes that lose every member keep their
    previous vector. Deterministic given the input codebooks (assignment
    ties break on code id).

    Refined codebooks plug into pq_encode/pq_adc_topk/ivf_pq_topk
    unchanged; they trade the seeded construction's oracle
    reproducibility for real quantization error (see the improvement
    test) — production uses this, the oracled queries keep seeds.
    """
    n_sub = len(codebooks)
    sub = len(codebooks[0][0][1])
    cbs = [list(cb) for cb in codebooks]
    for _ in range(n_iter):
        enc = pq_encode(corpus, cbs, vec_col=vec_col)
        per = enc.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.col("pq_codes")[j].alias("code"),
                            F.slice(F.col(vec_col), j * sub + 1, sub).alias("s"),
                        )
                        for j in range(n_sub)
                    ]
                )
            ).alias("e")
        ).select("e.*")
        means = (
            per.groupBy("j", "code")
            .agg(
                *[
                    F.avg(F.col("s")[d].cast("double")).alias(f"d{d}")
                    for d in range(sub)
                ]
            )
            .collect()
        )
        updated = {(r["j"], r["code"]): [r[f"d{d}"] for d in range(sub)] for r in means}
        cbs = [
            [(c, updated.get((j, c), vec)) for c, vec in cb]
            for j, cb in enumerate(cbs)
        ]
    return cbs


def pq_quantization_error(
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
) -> float:
    """Mean total squared quantization error over the corpus — the
    quantity Lloyd refinement minimizes; used to validate refinement.
    Reads pq_encode's own winning distances (with_error=True), so nothing
    is re-derived."""
    enc = pq_encode(corpus, codebooks, vec_col=vec_col, with_error=True)
    return enc.agg(F.avg("pq_err")).collect()[0][0]


def cosine_topk_lsh_multiprobe2(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_bits: int = 8,
    round_digits: int = 4,
) -> DataFrame:
    """Hamming-2 multi-probe sign-LSH ANN: probe the home bucket, every
    1-bit flip, and every 2-bit flip — the next rung of the recall ladder
    promised in cosine_topk_lsh_multiprobe's docstring.

    Probe count is 1 + n_bits + C(n_bits,2) (37 at n_bits=8), so each
    query scans ~37/256 of the corpus; the corpus side is still one
    bucket per vector with the same equi-join, and probes remain pairwise
    distinct so no dedup step is needed."""
    masks = (
        [0]
        + [1 << j for j in range(n_bits)]
        + [
            (1 << i) | (1 << j)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]
    )
    return _lsh_topk(
        corpus, queries, masks, id_col, vec_col, query_id_col, k, n_bits,
        round_digits,
    )


def cosine_topk_bruteforce_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    round_digits: int = 4,
    max_queries: int = 100_000,
) -> DataFrame:
    """Throughput variant of cosine_topk_bruteforce: an Arrow-batched
    numpy matmul replaces the per-pair higher-order folds.

    The query matrix (small by contract) is captured in the closure and
    shipped once per Python worker; each mapInPandas batch computes
    corpus_block @ queries.T as one BLAS call and emits only its block's
    top-k rows per query, so the Python->JVM return is k*n_queries rows
    per batch, not the full similarity matrix. A final window over those
    partial winners (tiny) picks the global top-k. Same ranking contract
    as the expression path (rounded sim DESC, id ASC) — parity is pinned
    by test; the expression path remains the oracle-comparable form.
    Rounding replicates Spark's HALF_UP (away from zero), not numpy's
    half-to-even, so boundary sims rank identically on both paths.

    Contract: integer id columns (the module's other operators are
    id-type generic; this fast path trades that for the matmul). Output
    id columns keep the INPUT id types (tinyint stays tinyint), matching
    the type-preserving expression path. The query side must be small —
    it is collected to the driver and closure-shipped; ``max_queries``
    bounds that collect and the call fails loudly past it.
    """
    import numpy as np
    import pandas as pd

    _np_by_spark = {
        "tinyint": np.int8,
        "smallint": np.int16,
        "int": np.int32,
        "bigint": np.int64,
    }
    q_dt = dict(queries.dtypes).get(query_id_col)
    c_dt = dict(corpus.dtypes).get(id_col)
    for col, dt in ((query_id_col, q_dt), (id_col, c_dt)):
        if dt not in _np_by_spark:
            raise TypeError(
                f"cosine_topk_bruteforce_arrow requires integer id columns; "
                f"{col!r} is {dt} — use cosine_topk_bruteforce for other id "
                "types"
            )

    def round_half_up(a, d):
        scale = 10.0**d
        return np.sign(a) * np.floor(np.abs(a) * scale + 0.5) / scale

    # limit(max_queries+1) bounds the driver collect even on a runaway
    # query side; >max_queries is a contract violation, not a truncation.
    q_rows = (
        queries.select(query_id_col, vec_col).limit(max_queries + 1).collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"cosine_topk_bruteforce_arrow: query side exceeds max_queries="
            f"{max_queries}; this path broadcasts the full query matrix — "
            "shrink the query set or raise max_queries explicitly"
        )
    if not q_rows:
        empty = (
            f"{query_id_col} {q_dt}, neighbor_id {c_dt}, sim double, "
            "rank long"
        )
        return corpus.sparkSession.createDataFrame([], empty)
    q_ids = np.array([r[0] for r in q_rows], dtype=_np_by_spark[q_dt])
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(qm, axis=1)
    q_norms[q_norms == 0] = np.inf  # zero-norm query => sim 0 everywhere

    def block_topk(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=_np_by_spark[c_dt])
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norms = np.linalg.norm(cm, axis=1)
            c_norms[c_norms == 0] = np.inf
            sims = (cm @ qm.T) / np.outer(c_norms, q_norms)
            sims = round_half_up(sims, round_digits)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                col = sims[:, qi]
                mask = ids != q_ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # partial top-k inside the block: sort by (-sim, id)
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:k]
                sel = cand_idx[order]
                out_q.extend([q_ids[qi]] * len(sel))
                out_n.extend(ids[sel])
                out_s.extend(col[sel])
            yield pd.DataFrame(
                {
                    query_id_col: pd.Series(out_q, dtype=_np_by_spark[q_dt]),
                    "neighbor_id": pd.Series(out_n, dtype=_np_by_spark[c_dt]),
                    "sim": pd.Series(out_s, dtype="float64"),
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        block_topk, f"{query_id_col} {q_dt}, neighbor_id {c_dt}, sim double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    threshold: float = 0.3,
    round_digits: int = 4,
) -> DataFrame:
    """Exact range search: every (query, corpus) pair with rounded cosine
    >= threshold. The retrieval dual of top-k — "all semantic duplicates
    above tau", the shape a dedup or retrieval-augmentation pipeline asks
    when k is unknowable in advance.

    Scale contract (same as cosine_topk_bruteforce): the QUERY side is
    small and broadcast; the corpus never shuffles — each partition
    emits only its over-threshold pairs, so the output (not the
    corpus) bounds what moves. There is no window stage at all: range
    search is embarrassingly parallel, strictly cheaper than top-k.
    """
    from usgs_lidar_spark.functions.vectors import dot, norm

    cn = corpus.withColumn("__cnorm", norm(vec_col))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
    )
    joined = cn.crossJoin(F.broadcast(q)).filter(
        F.col(query_id_col) != F.col(id_col)
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(dot(vec_col, "__qvec") / (F.col("__cnorm") * F.col("__qnorm")))
    return (
        joined.withColumn("sim", F.round(raw, round_digits))
        .filter(F.col("sim") >= threshold)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "sim")
    )


def cosine_range_search_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    threshold: float = 0.3,
    n_bits: int = 8,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate range search: candidates from the multi-probe sign-LSH
    bucket join (home bucket + every Hamming-1 neighbor, the same probe
    set as cosine_topk_lsh_multiprobe), exact rounded cosine and the
    threshold filter within the probed buckets only.

    At scale each query touches ~(n_bits+1)/2^n_bits of the corpus
    instead of all of it; the miss set is exactly the over-threshold
    pairs whose buckets differ in >= 2 sign bits (recall measurable
    against cosine_range_search on a sample). Probe buckets are
    pairwise distinct so no pair is emitted twice — no dedup stage.
    """
    from usgs_lidar_spark.functions.vectors import dot, norm

    cb = corpus.withColumn(
        "__bucket", sign_lsh_bucket(vec_col, n_bits)
    ).withColumn("__cnorm", norm(vec_col))
    home = sign_lsh_bucket(vec_col, n_bits)
    masks = [0] + [1 << j for j in range(n_bits)]
    probes = F.array(
        *[home.bitwiseXOR(F.lit(m).cast("long")) for m in masks]
    )
    qb = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.explode(probes).alias("__bucket"),
        norm(vec_col).alias("__qnorm"),
    )
    joined = cb.join(F.broadcast(qb), "__bucket").filter(
        F.col(query_id_col) != F.col(id_col)
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(dot(vec_col, "__qvec") / (F.col("__cnorm") * F.col("__qnorm")))
    return (
        joined.withColumn("sim", F.round(raw, round_digits))
        .filter(F.col("sim") >= threshold)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "sim")
    )


# =====================================================================
# SQ8 scalar quantization: the 4x-memory-compression tier between full
# float vectors and PQ codes. Per-dimension affine quantization to one
# byte; approximate similarity runs over reconstructed values, exact
# re-rank recovers recall on the short list.
# =====================================================================


def sq8_bounds(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, scale) for SQ8 affine quantization, computed
    distributed (posexplode -> per-position min/max — a map-side partial
    agg, one tiny d-row result) and collected to the driver: d scalars,
    the same bounded-collect contract as IVF centroid seeding.

    scale[i] = (max-min)/255, or 0.0 for a degenerate (constant)
    dimension — the 0 scale makes reconstruction collapse to min
    exactly and encode emit code 0, no NaN/div-by-zero anywhere.
    min/max over doubles are order-independent, so the bounds are
    deterministic under any partitioning.
    """
    stats = (
        corpus.select(F.posexplode(vec_col).alias("__i", "__x"))
        .groupBy("__i")
        .agg(
            F.min(F.col("__x").cast("double")).alias("mn"),
            F.max(F.col("__x").cast("double")).alias("mx"),
        )
        .orderBy("__i")
        .collect()
    )
    mins = [r["mn"] for r in stats]
    scales = [
        (r["mx"] - r["mn"]) / 255.0 if r["mx"] > r["mn"] else 0.0
        for r in stats
    ]
    return mins, scales


def _sq8_code_expr(vec_col: str, mins: list[float], scales: list[float]) -> F.Column:
    """Elementwise SQ8 code array: clamp(floor((x - min_i)/scale_i), 0, 255)
    as an expression over literal bounds arrays — map-side, no shuffle,
    no UDF, reproducible in any SQL engine (floor over the same doubles)."""
    mins_lit = F.array(*[F.lit(float(v)) for v in mins])
    scales_lit = F.array(*[F.lit(float(v)) for v in scales])
    return F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.arrays_zip(mins_lit, scales_lit),
        lambda x, ms: F.when(ms["1"] == 0.0, F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor((x - ms["0"]) / ms["1"]).cast("int"),
                ),
            )
        ),
    )


def sq8_encode(
    df: DataFrame,
    mins: list[float],
    scales: list[float],
    vec_col: str = "embedding",
    codes_col: str = "sq8_codes",
) -> DataFrame:
    """Attach the SQ8 code column (array<int>, values 0..255 — one byte
    of information per dimension, 4x smaller than float32 at rest).
    Purely map-side; the corpus never shuffles to be encoded."""
    return df.withColumn(codes_col, _sq8_code_expr(vec_col, mins, scales))


def _sq8_recon_expr(codes_col: str, mins: list[float], scales: list[float]) -> F.Column:
    """Reconstruction: min_i + (code + 0.5) * scale_i (bucket midpoint;
    exact min for degenerate dims since scale is 0)."""
    mins_lit = F.array(*[F.lit(float(v)) for v in mins])
    scales_lit = F.array(*[F.lit(float(v)) for v in scales])
    return F.zip_with(
        F.col(codes_col),
        F.arrays_zip(mins_lit, scales_lit),
        lambda c, ms: ms["0"] + (c.cast("double") + F.lit(0.5)) * ms["1"],
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    mins: list[float],
    scales: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    rerank: int = 0,
    round_digits: int = 4,
) -> DataFrame:
    """Top-k by cosine over SQ8-RECONSTRUCTED corpus vectors (asymmetric:
    queries stay full-precision), optional exact re-rank of the top
    ``rerank`` candidates.

    Plan shape: encode + reconstruct are map-side expressions over the
    corpus partition (at rest only the byte codes need storing — the
    recon norm is derivable once at encode time); the broadcast query set
    makes candidate scoring shuffle-free; the only shuffle is the
    per-query window top-k over scored rows. With rerank=R, the R-row
    short list per query joins back to full vectors by id — nq*R rows,
    broadcast — and the final order uses exact cosine; recall lost to
    quantization is recovered while full vectors are touched only for
    the short list (the SQ8 memory story survives).
    """
    from usgs_lidar_spark.functions.vectors import dot, norm

    recon = sq8_encode(corpus, mins, scales, vec_col).withColumn(
        "__recon", _sq8_recon_expr("sq8_codes", mins, scales)
    )
    cn = recon.withColumn("__cnorm", norm("__recon"))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
    )
    joined = cn.crossJoin(F.broadcast(q)).filter(
        F.col(query_id_col) != F.col(id_col)
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(
        dot("__recon", "__qvec") / (F.col("__cnorm") * F.col("__qnorm"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    scored = (
        joined.withColumn("sim", F.round(raw, round_digits))
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    if not rerank:
        return scored.filter(F.col("rank") <= k).select(
            query_id_col, F.col(id_col).alias("neighbor_id"), "sim", "rank"
        )
    shortlist = scored.filter(F.col("rank") <= rerank).select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        F.col("__qvec"),
        F.col("__qnorm"),
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(vec_col).alias("__cnorm"),
    )
    exact = shortlist.join(full, "neighbor_id")
    raw2 = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(
        dot("__cvec", "__qvec") / (F.col("__cnorm") * F.col("__qnorm"))
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("sim", F.round(raw2, round_digits))
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "sim", "rank")
    )


def sq8_clip_metrics(
    df: DataFrame,
    mins: list[float],
    scales: list[float],
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension drift report for appending a NEW batch to an SQ8
    index with FROZEN bounds: how many components fall below min (clip
    to code 0) or above max (clip to 255). Frozen bounds keep old codes
    valid — the append-without-rebuild story, mirroring
    ivf_append/ivf_drift_metrics — and the clip rate is the signal for
    when re-quantization pays.

    One posexplode + per-dim aggregate (64 rows out); bounds ride as
    literal arrays, so the batch never shuffles anything but partial
    counts. Degenerate dims (scale 0) clip on ANY deviation from the
    constant — exactly right, since their codes carry no range.

    Returns (dim, n, n_below, n_above, clip_rate) — dim is 0-based.
    """
    mins_lit = F.array(*[F.lit(float(v)) for v in mins])
    maxs_lit = F.array(
        *[
            F.lit(float(mn) + 255.0 * float(sc)) if sc > 0 else F.lit(float(mn))
            for mn, sc in zip(mins, scales)
        ]
    )
    ex = df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"))
    lo = F.element_at(mins_lit, F.col("dim") + 1)
    hi = F.element_at(maxs_lit, F.col("dim") + 1)
    return (
        ex.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("x") < lo, 1).otherwise(0)).cast("long").alias("n_below"),
            F.sum(F.when(F.col("x") > hi, 1).otherwise(0)).cast("long").alias("n_above"),
        )
        .withColumn(
            "clip_rate",
            (F.col("n_below") + F.col("n_above")).cast("double") / F.col("n").cast("double"),
        )
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    mins: list[float],
    scales: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
    method: str = "auto",
    rerank: int = 0,
) -> DataFrame:
    """IVF-SQ8: coarse-cell restriction (each query probes its n_probe
    nearest cells — the ivf_topk rewrite of the cross product) with
    SQ8-compressed scoring inside the probed cells (cosine over
    bucket-midpoint reconstructions — the sq8_topk kernel). Completes
    the compression matrix next to ivf_pq_topk: at rest the index is
    cells + 1 byte/dim codes; full vectors are touched only by the
    optional exact re-rank short list (nq * rerank rows).

    Everything stays map-side until the per-query top-k window: cell
    assignment and SQ8 encode/reconstruct ride the corpus scan, probe
    rows broadcast. Deterministic under any partitioning (same tie
    contracts as both parents)."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    cb = ivf_assign(corpus, centroids, vec_col, round_digits, method)
    cb = (
        sq8_encode(cb, mins, scales, vec_col)
        .withColumn("__recon", _sq8_recon_expr("sq8_codes", mins, scales))
        .withColumn("__cnorm", norm("__recon"))
    )
    qdf, sims, _qtmp = _with_centroid_sims(
        queries, centroids, vec_col, round_digits, method
    )
    probes = F.slice(F.sort_array(sims, asc=False), 1, n_probe)
    qb = qdf.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
        F.explode(probes).alias("__p"),
    ).select(
        query_id_col, "__qvec", "__qnorm", (-F.col("__p.negcid")).alias("__cid")
    )
    joined = cb.join(F.broadcast(qb), "__cid").filter(
        F.col(query_id_col) != F.col(id_col)
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(
        dot("__recon", "__qvec") / (F.col("__cnorm") * F.col("__qnorm"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    scored = (
        joined.withColumn("sim", F.round(raw, round_digits))
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    if not rerank:
        return scored.filter(F.col("rank") <= k).select(
            query_id_col, F.col(id_col).alias("neighbor_id"), "sim", "rank"
        )
    shortlist = scored.filter(F.col("rank") <= rerank).select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        "__qvec",
        "__qnorm",
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(vec_col).alias("__cnorm"),
    )
    exact = shortlist.join(full, "neighbor_id")
    raw2 = F.when(
        (F.col("__cnorm") == 0) | (F.col("__qnorm") == 0), F.lit(0.0)
    ).otherwise(
        dot("__cvec", "__qvec") / (F.col("__cnorm") * F.col("__qnorm"))
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("sim", F.round(raw2, round_digits))
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "sim", "rank")
    )


#: Fixed-point scale for embedding moments: 6 decimals per component.
_STD_SCALE = 10**6


def embed_moments(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension mean and population std of an embedding column in
    EXACT arithmetic: components are rounded to 1e-6 fixed point and
    both the sum and the sum of squares accumulate as BIGINTs — order-
    independent under any partitioning, so the stats (and anything
    standardized with them) hash-match across engines. One posexplode +
    per-dim aggregate, d rows out.

    Overflow bound: |x| <= 1e3 gives x^2-scaled terms <= 1e18/row-dim;
    BIGINT holds ~9.2e18, so corpora up to ~9 rows/dim at that extreme
    — in practice embeddings are O(1)-normalized (here |x| < 1), terms
    are <= 1e12 and ~9e6 rows/dim fit; for more, shard the sum by a
    second key and re-aggregate (same algebra, documented remedy).

    Returns (dim, n, mean, std) with dim 0-based.
    """
    ex = corpus.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x")
    ).select(
        "dim", F.round(F.col("x") * _STD_SCALE).cast("long").alias("xs")
    )
    agg = ex.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xs").alias("s1"),
        F.sum(F.col("xs") * F.col("xs")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / (
        F.col("n").cast("double") * _STD_SCALE
    )
    ex2 = F.col("s2").cast("double") / (
        F.col("n").cast("double") * _STD_SCALE * _STD_SCALE
    )
    return agg.select(
        "dim",
        "n",
        mean.alias("mean"),
        F.sqrt(F.greatest(F.lit(0.0), ex2 - mean * mean)).alias("std"),
    )


def embed_standardize(
    df: DataFrame,
    means: list[float],
    stds: list[float],
    vec_col: str = "embedding",
    out_col: str = "embedding_std",
) -> DataFrame:
    """Map-side per-dimension standardization (x - mean)/std against
    broadcast-as-literals stats (collected d scalars — the IVF-seeding
    contract); zero-variance dims pass through centered only. The
    corpus never shuffles; downstream ANN operators consume ``out_col``
    unchanged."""
    means_lit = F.array(*[F.lit(float(v)) for v in means])
    stds_lit = F.array(*[F.lit(float(v)) for v in stds])
    return df.withColumn(
        out_col,
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.arrays_zip(means_lit, stds_lit),
            lambda x, ms: F.when(ms["1"] == 0.0, x - ms["0"]).otherwise(
                (x - ms["0"]) / ms["1"]
            ),
        ),
    )


def write_ivf_pq_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    method: str = "auto",
) -> None:
    """Materialize the IVF-PQ index: cell-partitioned like
    `write_ivf_index`, but AT REST each vector is its PQ code array
    (n_sub small ints) instead of the full float vector — the
    compressed-domain layout where a 64-float embedding stores as 4
    codes, the 100 TB at-rest story (a 16x+ byte reduction before
    parquet encoding, and the probe scan reads codes, never vectors).
    Sidecars: `_centroids` (coarse quantizer, as in write_ivf_index)
    and `_codebooks` ((j, code, cvec) sub-codebook rows) — written
    LAST, so its _SUCCESS marks the index complete. Full vectors are
    touched exactly once, at encode time; serving never reads them."""
    from usgs_lidar_spark.operators.retrieval import _write_schema_sidecar

    spark = corpus.sparkSession
    enc = pq_encode(
        ivf_assign(corpus, centroids, vec_col, round_digits, method),
        codebooks,
        vec_col=vec_col,
    )
    cells = enc.select(
        F.col(id_col), F.col("__cid").alias("cid"), "pq_codes"
    )
    cells.write.mode("overwrite").partitionBy("cid").parquet(path)
    _write_schema_sidecar(cells, path)
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cid bigint, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")
    spark.createDataFrame(
        [
            (j, int(c), [float(x) for x in v])
            for j, cb in enumerate(codebooks)
            for c, v in cb
        ],
        "j int, code int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_codebooks")


def read_pq_codebooks(spark, path: str) -> list[list[tuple[int, list[float]]]]:
    """The `_codebooks` sidecar back as pq_encode's list-of-subspace
    structure (n_sub * n_codes rows — kilobytes by contract)."""
    rows = sorted(
        (int(r["j"]), int(r["code"]), list(r["cvec"]))
        for r in spark.read.parquet(f"{path}/_codebooks").collect()
    )
    n_sub = max(j for j, _, _ in rows) + 1
    return [
        [(c, v) for j, c, v in rows if j == jj] for jj in range(n_sub)
    ]


def ivf_pq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
    method: str = "auto",
) -> DataFrame:
    """`ivf_pq_topk` served from a `write_ivf_pq_index` dataset: the
    probe prunes to its cells' partition directories AND the pruned
    scan reads PQ codes only — no corpus vector is ever read or
    re-encoded at serve time. Identical ranking contract to the
    in-memory composition (same centroids/codebooks => same codes =>
    same ADC sums; parity test-pinned). The LUT is rebuilt per query
    batch from the codebook sidecar — kilobytes of driver math, the
    standard ADC serving cost."""
    from usgs_lidar_spark.operators.retrieval import (
        _read_with_schema_fallback,
    )

    centroids = read_ivf_centroids(spark, path)
    codebooks = read_pq_codebooks(spark, path)
    qdf, sims, _qtmp = _with_centroid_sims(
        queries, centroids, vec_col, round_digits, method
    )
    probes = F.slice(F.sort_array(sims, asc=False), 1, n_probe)
    qcells = qdf.select(
        F.col(query_id_col), F.explode(probes).alias("__p")
    ).select(query_id_col, (-F.col("__p.negcid")).alias("__cid"))
    cells = sorted(
        {int(r["__cid"]) for r in qcells.select("__cid").distinct().collect()}
    )
    exploded = (
        _read_with_schema_fallback(spark, path)
        .filter(F.col("cid").isin(cells or [-1]))
        .withColumnRenamed("cid", "__cid")
        .select(
            F.col(id_col).alias("neighbor_id"),
            "__cid",
            F.posexplode("pq_codes").alias("j", "code"),
        )
    )
    lut = _pq_lut(queries, codebooks, query_id_col, vec_col)
    scored = (
        exploded.join(F.broadcast(qcells), "__cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .join(F.broadcast(lut), [query_id_col, "j", "code"])
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.sum("d_scaled").alias("adc_scaled"))
    )
    return _adc_rank(scored, query_id_col, k)


def append_to_ivf_pq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    method: str = "auto",
) -> None:
    """Incrementally grow a `write_ivf_pq_index` dataset: assign AND
    encode only the new batch with the STORED quantizers (both
    sidecars), appending codes into the batch's cell partitions — the
    compressed twin of `append_to_ivf_index`, and a `foreachBatch` body
    for a streaming corpus. Same staleness contract as every
    fixed-quantizer append: the result is indistinguishable from a full
    rebuild with the same centroids/codebooks (codes are a pure
    function of vector + codebooks), so the index is never wrong, only
    staler — watch drift metrics for the rebuild signal."""
    spark = new_vectors.sparkSession
    centroids = read_ivf_centroids(spark, path)
    codebooks = read_pq_codebooks(spark, path)
    enc = pq_encode(
        ivf_assign(new_vectors, centroids, vec_col, round_digits, method),
        codebooks,
        vec_col=vec_col,
    )
    enc.select(
        F.col(id_col), F.col("__cid").alias("cid"), "pq_codes"
    ).write.mode("append").partitionBy("cid").parquet(path)


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """k-NN majority-vote classification over exact cosine neighbors —
    the standard embedding-quality probe (does the representation
    cluster by label?) run as a query over the corpus itself.

    Neighbors come from `cosine_topk_bruteforce` (broadcast queries,
    per-query window top-k, self excluded); each neighbor contributes
    one vote for its label and the prediction is the (votes DESC,
    label ASC) winner — deterministic ties, integer votes, so the
    result hash-matches any engine. Scale shape: the vote join attaches
    labels to nq*k neighbor rows (never the corpus), the vote aggregate
    and argmax window are nq*|labels|-bounded. Returns
    (query_id_col, pred_label, n_votes)."""
    nb = cosine_topk_bruteforce(
        corpus, queries, id_col, vec_col, query_id_col, k, round_digits
    )
    votes = (
        nb.join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("__nl"),
            ),
            "neighbor_id",
        )
        .groupBy(query_id_col, "__nl")
        .agg(F.count(F.lit(1)).alias("__votes"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__votes").desc(), F.col("__nl").asc()
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            query_id_col,
            F.col("__nl").alias("pred_label"),
            F.col("__votes").cast("long").alias("n_votes"),
        )
    )


def kmeans_step_exact(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    qbits: int = 20,
    impl: str = "auto",
) -> DataFrame:
    """One distributed Lloyd STEP with bit-exact cell statistics — the
    scalable core of k-means/quantizer training, reported as hard
    integers: assign every vector to its nearest centroid (the same
    quantized argmax as `ivf_drift_metrics_exact` — no rounding
    decision anywhere), then emit per (cell, dimension) the occupancy
    and the EXACT integer sum of quantized coordinates. The driver (or
    `kmeans_refine`, which computes the same means in floats) divides
    ``coord_sum_q / (n * 2^qbits)`` to get the next centroid — the
    division is the only inexact step and it happens on k*dim bounded
    numbers, never on data.

    Plan: assignment is a map-side literal-expression argmax on one
    scan; posexplode emits dim rows per vector and the one shuffle is
    map-combined down to k*dim rows. Int64 envelope: |coord_sum_q| <=
    rows_per_cell * 2^qbits, so qbits=20 holds to ~2^43 rows per cell.

    Returns (cid, dim, n, coord_sum_q) — dim is 1-based.

    ``impl``: ``"auto"`` (default) picks the Arrow kernel (optimization
    round 16) once the quantizer exceeds the literal-expression budget
    (the `ivf_assign` rule) — assignment as one int64 matmul and the
    (cell, dim) statistics PARTIALLY AGGREGATED inside the task (guide
    §2.3), so the posexplode of dim rows per vector disappears and the
    shuffle carries tasks x k x dim partial rows instead of corpus x
    dim rows. Bit-identical: int64 addition is associative even under
    wraparound. Below the budget the literal expression plan measured
    faster (0.37 s vs 0.95 s at k=8, sf0.1 — no Python roundtrip) and
    stays the default; ``"kernel"``/``"expr"`` force either.
    """
    from usgs_lidar_spark.functions.vectors import quantize_exact

    if impl not in ("auto", "kernel", "expr"):
        raise ValueError(f"unknown kmeans_step_exact impl: {impl!r}")
    if impl == "auto":
        dim0 = len(centroids[0][1]) if centroids else 0
        impl = (
            "expr"
            if len(centroids) <= _EXPR_PATH_MAX_K
            and len(centroids) * dim0 <= _EXPR_PATH_MAX_NODES
            else "kernel"
        )
    if impl == "kernel" and centroids:
        import numpy as np
        from pyspark.sql.types import LongType, StructField, StructType

        from usgs_lidar_spark.functions.arrow_exact import (
            list_array_to_matrix,
        )

        cids, Qc, nq = _quant_assign_kernel_parts(centroids, qbits)
        dim = Qc.shape[1]
        scale = float(2**qbits)
        out_schema = StructType(
            [
                StructField("cid", LongType()),
                StructField("dim", LongType()),
                StructField("n", LongType()),
                StructField("coord_sum_q", LongType()),
            ]
        )

        def kernel(batches):
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_out = to_arrow_schema(out_schema)
            n_acc: dict = {}
            s_acc: dict = {}
            for batch in batches:
                for lo in range(0, batch.num_rows, 65536):
                    sub = batch.slice(lo, 65536)
                    C = list_array_to_matrix(sub.column(0), expect_dim=dim)
                    Q = np.floor(C * scale).astype(np.int64)
                    best, _ = _quant_assign_np(Q, Qc, nq)
                    for c in np.unique(best):
                        rows = best == c
                        key = int(cids[c])
                        n_acc[key] = n_acc.get(key, 0) + int(rows.sum())
                        s = Q[rows].sum(axis=0)
                        if key in s_acc:
                            s_acc[key] = s_acc[key] + s
                        else:
                            s_acc[key] = s
            if n_acc:
                cids_out = sorted(n_acc)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            np.repeat(
                                np.asarray(cids_out, dtype=np.int64), dim
                            ),
                            pa.int64(),
                        ),
                        pa.array(
                            np.tile(
                                np.arange(1, dim + 1, dtype=np.int64),
                                len(cids_out),
                            ),
                            pa.int64(),
                        ),
                        pa.array(
                            np.repeat(
                                np.asarray(
                                    [n_acc[c] for c in cids_out],
                                    dtype=np.int64,
                                ),
                                dim,
                            ),
                            pa.int64(),
                        ),
                        pa.array(
                            np.concatenate(
                                [s_acc[c] for c in cids_out]
                            ).astype(np.int64),
                            pa.int64(),
                        ),
                    ],
                    schema=arrow_out,
                )

        c = corpus.select(F.col(vec_col))
        c = spread_for_kernel(c)
        return (
            c.mapInArrow(kernel, out_schema)
            .groupBy("cid", "dim")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("coord_sum_q").cast("long").alias("coord_sum_q"),
            )
        )

    qc = _quantize_centroids_exact(centroids, qbits)
    df = corpus.withColumn("__qv", quantize_exact(vec_col, qbits))
    best = F.array_max(_exact_argmax_structs("__qv", qc))
    assigned = df.select(
        (-best["negcid"]).cast("long").alias("cid"), "__qv"
    )
    cells = assigned.select(
        "cid", F.posexplode("__qv").alias("__d0", "__q")
    )
    return cells.groupBy(
        "cid", (F.col("__d0") + 1).cast("long").alias("dim")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__q").cast("long").alias("coord_sum_q"),
    )


def kmeans_two_steps_exact(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    qbits: int = 20,
) -> DataFrame:
    """TWO Lloyd iterations with the float feedback loop itself made
    cross-engine exact — the full train-step cycle (assign -> update ->
    re-assign -> statistics) under one hard oracle, which float k-means
    cannot be (summed float means drift per partitioning).

    Round 1 is `kmeans_step_exact`. The centroid update keeps
    determinism through exactly two correctly-rounded IEEE operations:
    ``mean_q = double(coord_sum_q) / n`` (one division of exact
    integers) then ``c = mean_q / 2^qbits`` (a power-of-two exponent
    shift — no rounding) — identical doubles in Spark, DuckDB, and
    Python. The updated centroids re-quantize with `quantize_exact`
    (floor of a power-of-two multiple) and round 2 re-assigns against
    them. Empty cells keep their previous centroid. Only k*dim bounded
    numbers ever reach the driver between rounds.

    Returns round-2 (cid, dim, n, coord_sum_q).
    """
    step1 = kmeans_step_exact(corpus, centroids, vec_col, qbits).collect()
    new_cents = _kmeans_update_exact(step1, centroids, qbits)
    return kmeans_step_exact(corpus, new_cents, vec_col, qbits)


def _kmeans_update_exact(
    stats_rows,
    centroids: list[tuple[int, list[float]]],
    qbits: int,
) -> list[tuple[int, list[float]]]:
    """The deterministic Lloyd UPDATE from `kmeans_step_exact` statistics:
    ``mean_q = double(coord_sum_q) / n`` then ``c = mean_q / 2^qbits`` —
    two correctly-rounded IEEE ops (one exact-integer division + one
    power-of-two exponent shift), so the new centroid doubles are
    bit-identical in Spark, DuckDB, and Python. Empty cells keep their
    previous centroid. Driver state is k*dim bounded numbers."""
    s = 2.0**qbits
    sums: dict[int, dict[int, tuple[int, int]]] = {}
    for r in stats_rows:
        sums.setdefault(int(r["cid"]), {})[int(r["dim"])] = (
            int(r["n"]),
            int(r["coord_sum_q"]),
        )
    new_cents: list[tuple[int, list[float]]] = []
    for cid, old in centroids:
        got = sums.get(int(cid))
        if not got:
            new_cents.append((int(cid), [float(x) for x in old]))
            continue
        if len(old) != len(got):
            raise ValueError(
                f"kmeans update: centroid {cid} has {len(old)} "
                f"dims but the assigned vectors have {len(got)} — "
                "centroid vectors must match the embedding "
                "dimensionality exactly (a longer centroid would KeyError "
                "mid-update; a shorter one would silently truncate the "
                "new centroid)"
            )
        vec = []
        for d in range(1, len(old) + 1):
            n, cs = got[d]
            vec.append((float(cs) / n) / s)
        new_cents.append((int(cid), vec))
    return new_cents


def kmeans_train_centroids(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    qbits: int = 20,
    n_iter: int = 2,
) -> list[tuple[int, list[float]]]:
    """TRAIN the coarse quantizer with `n_iter` full exact Lloyd
    iterations (assign -> update, repeated) and return the trained
    centroid list — the composition that closes the training->serving
    loop: feed the result to `write_ivf_index` and every later
    `ivf_topk_from_index` probe runs against TRAINED cells instead of
    seed vectors. Each iteration is one `kmeans_step_exact` scan (the
    only distributed work; shuffle bounded by k*dim) plus the
    deterministic driver-side `_kmeans_update_exact`, so the returned
    doubles are reproducible in any engine — a DuckDB oracle can replay
    the whole training run and the serving probe on top of it."""
    for _ in range(n_iter):
        stats = kmeans_step_exact(corpus, centroids, vec_col, qbits).collect()
        centroids = _kmeans_update_exact(stats, centroids, qbits)
    return centroids


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Contrastive-training HARD-NEGATIVE mining: for each anchor, the
    top-k most-similar corpus vectors with a DIFFERENT label — the
    pairs that sit closest to the decision boundary, which is what
    embedding-model training actually wants batched against each anchor
    (random negatives are trivially separable; hard negatives carry the
    gradient). Same plan shape and determinism contract as
    `cosine_topk_bruteforce` (broadcast anchors x one corpus scan —
    map-side, no all-pairs shuffle; ranking on (rounded sim DESC, id
    ASC)), plus the label-mismatch predicate and both labels in the
    output for audit. Self-pairs are excluded by id; rows with a NULL
    label on either side are excluded (an unlabeled vector can't be
    certified a negative — the strict-verify stance). At corpus scale
    the anchor set is the bounded side (a training batch, not the
    corpus); for anchor sets too large to broadcast, mine per
    IVF-probed cell instead (`ivf_topk` with the same predicate)."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    cn = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(label_col).alias("neg_label"),
        norm(vec_col).alias("__cnorm"),
    ).filter(F.col("neg_label").isNotNull())
    a = anchors.select(
        F.col(anchor_id_col),
        F.col(vec_col).alias("__avec"),
        F.col(label_col).alias("anchor_label"),
        norm(vec_col).alias("__anorm"),
    ).filter(F.col("anchor_label").isNotNull())
    joined = cn.crossJoin(F.broadcast(a)).filter(
        (F.col("neg_id") != F.col(anchor_id_col))
        & (F.col("neg_label") != F.col("anchor_label"))
    )
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__anorm") == 0), F.lit(0.0)
    ).otherwise(
        dot("__cvec", "__avec") / (F.col("__cnorm") * F.col("__anorm"))
    )
    w = Window.partitionBy(anchor_id_col).orderBy(
        F.col("sim").desc(), F.col("neg_id").asc()
    )
    return (
        joined.withColumn("sim", F.round(raw, round_digits))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            anchor_id_col, "anchor_label", "neg_id", "neg_label",
            "sim", "rank",
        )
    )


def _knn_label_vote_arrow(
    corpus: DataFrame,
    s: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
    round_digits: int,
    min_frac: float | None,
) -> DataFrame:
    """`knn_label_vote`'s Arrow kernel (bit-identical to the expression
    path — see its docstring). Map-only: one `mapInArrow` over the
    pruned (id, vec) corpus scan; seeds ride the task closure. A
    scale-adaptive round-robin spread engages ONLY when the scan has
    fewer splits than the cluster has slots (a tiny input — at real
    scale the guard is false and no exchange exists), because a
    zero-shuffle plan over a one-split input would otherwise run the
    whole scoring on one core."""
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from usgs_lidar_spark.functions.arrow_exact import (
        list_array_to_matrix,
        seqfold_dot,
        seqfold_sqnorm,
        spark_round_double,
    )

    seed_rows = _collect_capped(
        s.select(F.col(id_col), F.col(label_col), F.col(vec_col)), "seed frame"
    )
    label_type = s.schema[label_col].dataType
    id_field = corpus.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("pred_label", label_type),
            StructField("n_votes", LongType()),
            StructField("n_considered", LongType()),
            StructField("vote_frac", DoubleType()),
            StructField("top_sim", DoubleType()),
        ]
    )
    sid_list = [r[0] for r in seed_rows]
    slabel_list = [r[1] for r in seed_rows]
    svec_list = [list(r[2]) for r in seed_rows]
    dims = {len(v) for v in svec_list}
    if len(dims) > 1:
        raise ValueError(f"ragged seed embedding dims: {sorted(dims)[:5]}")
    dim = dims.pop() if dims else 0
    kk = int(k)
    mf = None if min_frac is None else float(min_frac)
    rd = int(round_digits)

    def kernel(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(out_schema)
        m = len(sid_list)
        S = np.asarray(svec_list, dtype=np.float64).reshape(m, dim)
        try:
            sids = np.asarray(sid_list, dtype=np.int64)
        except (TypeError, ValueError):  # non-numeric id column
            sids = np.asarray(sid_list, dtype=object)
        snorm = np.sqrt(seqfold_sqnorm(S))
        # cap the pairwise block at ~32 MB of doubles per chunk
        chunk = max(1, (4 * 1024 * 1024) // max(m, 1))
        for batch in batches:
            if batch.num_rows == 0 or m == 0:
                continue
            ids_all = batch.column(0).to_numpy(zero_copy_only=False)
            C_all = list_array_to_matrix(batch.column(1), expect_dim=dim)
            for lo in range(0, len(ids_all), chunk):
                ids = ids_all[lo : lo + chunk]
                C = C_all[lo : lo + chunk]
                cnorm = np.sqrt(seqfold_sqnorm(C))
                dots = seqfold_dot(C, S)
                denom = cnorm[:, None] * snorm[None, :]
                zero = denom == 0.0
                sims = spark_round_double(
                    dots / np.where(zero, 1.0, denom), rd
                )
                np.copyto(sims, 0.0, where=zero)
                nsim = np.negative(sims) + 0.0  # -0.0 == 0.0 in the sort
                o_id, o_lab, o_nv, o_nc, o_vf, o_ts = [], [], [], [], [], []
                for r in range(len(ids)):
                    keep = sids != ids[r]
                    row_nsim = nsim[r][keep]
                    row_sids = sids[keep]
                    if row_nsim.size == 0:
                        continue
                    order = np.lexsort((row_sids, row_nsim))[:kk]
                    n_cons = order.size
                    row_sims = sims[r][keep]
                    # majority: (most votes, smallest label); top_sim =
                    # max rounded sim among the winning label's voters
                    counts: dict = {}
                    best: dict = {}
                    kept_idx = np.nonzero(keep)[0]
                    for oi in order:
                        lab = slabel_list[int(kept_idx[oi])]
                        counts[lab] = counts.get(lab, 0) + 1
                        sv = float(row_sims[oi])
                        if lab not in best or sv > best[lab]:
                            best[lab] = sv
                    win = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                    n_votes = win[1]
                    vote_frac = float(n_votes) / float(n_cons)
                    if mf is not None and not vote_frac >= mf:
                        continue
                    o_id.append(ids[r])
                    o_lab.append(win[0])
                    o_nv.append(n_votes)
                    o_nc.append(n_cons)
                    o_vf.append(vote_frac)
                    o_ts.append(best[win[0]])
                if o_id:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(
                                [
                                    x.item() if hasattr(x, "item") else x
                                    for x in o_id
                                ],
                                type=arrow_out.field(0).type,
                            ),
                            pa.array(o_lab, type=arrow_out.field(1).type),
                            pa.array(o_nv, type=pa.int64()),
                            pa.array(o_nc, type=pa.int64()),
                            pa.array(o_vf, type=pa.float64()),
                            pa.array(o_ts, type=pa.float64()),
                        ],
                        schema=arrow_out,
                    )

    c = corpus.select(F.col(id_col), F.col(vec_col))
    c = spread_for_kernel(c)
    return c.mapInArrow(kernel, out_schema)


def knn_label_vote(
    corpus: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    round_digits: int = 4,
    min_frac: float | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """kNN majority-vote labeling of corpus vectors from a LABELED seed
    set — the model-based quality/domain gate of a training-data
    pipeline (label a few thousand documents "keep"/"drop" or by
    domain, propagate to the corpus by embedding neighborhood) without
    shipping a trained classifier into the engine: the seed set IS the
    model.

    For each corpus vector: top-k most-similar seeds by rounded cosine
    (ties broken by seed id ASC — the `cosine_topk_bruteforce`
    determinism contract), then one vote per seed label; the winner is
    (most votes, smallest label) — both tie-breaks total orders, so the
    output is bit-replayable in any engine. Output per corpus row:
    (id, pred_label, n_votes, n_considered, vote_frac, top_sim) where
    n_considered is the actual neighbor count (< k only when the seed
    set itself is smaller than k), vote_frac = n_votes / n_considered
    (an IEEE division of two ints — deterministic), and top_sim is the
    MAX rounded similarity among the winning label's voters (max of
    rounded doubles is order-independent, unlike a mean). Seeds with a
    NULL label are excluded; corpus rows need no label.

    `min_frac` gates the output to confident predictions
    (vote_frac >= min_frac) — the filter a curation pipeline applies
    before acting on the vote.

    Plan shape — the inverse of `knn_classify`, whose bounded side is
    the QUERY set (a 50-row eval probe ranked against a corpus-sized
    neighbor pool, per-query window): here the bounded side is the
    LABELED reference set, and every corpus row gets a prediction, so
    a per-corpus-id window would shuffle n_corpus x k vote rows for
    nothing. Instead the whole seed set collapses to ONE array row
    (collect_list over the bounded frame), broadcasts, and the entire
    top-k + vote + majority runs as array expressions INSIDE the
    corpus scan — zero shuffle, zero window, JVM higher-order
    functions only. Ordering rides struct comparison on exactly-negated
    doubles (x * -1.0 flips only the sign bit), so ascending struct
    sort realizes (sim DESC, id ASC) and (votes DESC, label ASC)
    without a comparator lambda. For seed sets too large for one
    broadcast array, vote per IVF-probed cell instead (`ivf_topk`
    with the same aggregation on top).

    ``impl`` (optimization round 16, guide §4.2): ``"arrow"`` (default)
    runs the identical scoring as a NumPy kernel inside one
    ``mapInArrow`` over the corpus scan — still map-only / zero
    corpus shuffle, but the O(n_seeds x dim) per-row work runs
    vectorized instead of through interpreted Catalyst lambda
    evaluation (measured 4.5 s → <0.5 s on the sf0.1 gate). The seed
    set is collected at plan construction (bounded — the same budget
    the one-row broadcast array already imposed) and shipped in the
    task closure; similarities use the bit-exact sequential-fold +
    shortest-decimal-HALF_UP helpers in `functions.arrow_exact`, so
    the two implementations agree bit for bit (pinned by
    `test_knn_label_vote_arrow_expr_parity`). ``"expr"`` keeps the
    pure-JVM expression form."""
    from usgs_lidar_spark.functions.vectors import norm

    s = seeds.filter(F.col(label_col).isNotNull())
    if impl == "arrow":
        try:
            return _knn_label_vote_arrow(
                corpus, s, id_col, vec_col, label_col, k, round_digits,
                min_frac,
            )
        except _KernelBudgetExceeded as e:
            # Row budget on the kernel's driver-side seed collect
            # (round 17, VERDICT-r16 item 7): over the cap, the
            # expression plan below computes the identical result via a
            # one-row collect_list broadcast. That is NOT a memory
            # bound: the broadcast still gathers every seed through the
            # driver into one row and ships it whole to every executor;
            # it only moves the seed set off the Python side.
            import warnings

            warnings.warn(str(e), stacklevel=2)
    elif impl != "expr":
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    seed_arr = s.agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("sid"),
                F.col(label_col).alias("slabel"),
                F.col(vec_col).alias("svec"),
                norm(vec_col).alias("snorm"),
            )
        ).alias("__seeds")
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__cvec"),
        norm(vec_col).alias("__cnorm"),
    )

    def scored_struct(sd):
        prods = F.zip_with(
            F.col("__cvec"), sd["svec"],
            lambda x, y: x.cast("double") * y.cast("double"),
        )
        d = F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
        sim = F.round(
            F.when(
                (F.col("__cnorm") == 0) | (sd["snorm"] == 0), F.lit(0.0)
            ).otherwise(d / (F.col("__cnorm") * sd["snorm"])),
            round_digits,
        )
        # nsim = -sim: exact sign-bit flip, so ascending struct order
        # (nsim, sid) is (sim DESC, sid ASC) — the top-k tie-break.
        return F.struct(
            (sim * F.lit(-1.0)).alias("nsim"),
            sd["sid"].alias("sid"),
            sd["slabel"].alias("slabel"),
        )

    scored = F.transform(
        F.filter(F.col("__seeds"), lambda sd: sd["sid"] != F.col(id_col)),
        scored_struct,
    )
    out = (
        c.crossJoin(F.broadcast(seed_arr))
        # Generate barrier: explode of a one-element array. Predicates
        # cannot push through a Generate whose output they reference, so
        # the min_frac gate (or any caller filter on the vote columns)
        # can never be pushed-down-and-inlined past this point — without
        # the barrier, PushDownPredicates substituted the alias chain
        # into the join condition and the O(n_seeds x dim) scoring tree
        # evaluated TWICE per corpus row (seen in .explain; the vote
        # arithmetic above the barrier is k-bounded integer work, cheap
        # to duplicate).
        .select(
            F.col(id_col),
            F.explode(
                F.array(F.slice(F.array_sort(scored), 1, k))
            ).alias("__topk"),
        )
        .withColumn(
            "__votes",
            F.transform(
                F.array_distinct(
                    F.transform(F.col("__topk"), lambda t: t["slabel"])
                ),
                lambda lab: F.struct(
                    (
                        -F.size(
                            F.filter(
                                F.col("__topk"),
                                lambda t: t["slabel"] == lab,
                            )
                        )
                    ).alias("nv"),
                    lab.alias("lab"),
                    (
                        -F.array_min(
                            F.transform(
                                F.filter(
                                    F.col("__topk"),
                                    lambda t: t["slabel"] == lab,
                                ),
                                lambda t: t["nsim"],
                            )
                        )
                    ).alias("top_sim"),
                ),
            ),
        )
        # Ascending struct order on (nv=-votes, lab) = majority with the
        # smaller label winning ties; F.get is NULL (not ANSI error) on
        # the empty-seed-set edge, filtered as "no prediction".
        .withColumn("__win", F.get(F.array_sort("__votes"), 0))
        .filter(F.col("__win").isNotNull())
        .select(
            id_col,
            F.col("__win.lab").alias("pred_label"),
            (-F.col("__win.nv")).cast("long").alias("n_votes"),
            F.size("__topk").cast("long").alias("n_considered"),
            (
                (-F.col("__win.nv")).cast("double") / F.size("__topk")
            ).alias("vote_frac"),
            F.col("__win.top_sim").alias("top_sim"),
        )
    )
    if min_frac is not None:
        out = out.filter(F.col("vote_frac") >= F.lit(min_frac))
    return out


def knn_label_vote_ivf(
    corpus: DataFrame,
    seeds: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_probe: int = 2,
    round_digits: int = 4,
    min_frac: float | None = None,
) -> DataFrame:
    """`knn_label_vote`'s documented fallback, made concrete: the kNN
    majority-vote label gate for seed sets past the one-broadcast-array
    budget. Seeds live in their nearest-centroid cell (`ivf_assign` —
    map-side, no seed shuffle beyond the one cell-keyed exchange);
    each corpus row probes its ``n_probe`` nearest cells and votes over
    the top-k most-similar seeds WITHIN them — the `ivf_topk` plan
    with the sides' roles swapped (there the query side is bounded and
    broadcast; here the corpus is the unbounded probe side, so the
    cell join is a plain equi-join both sides shuffle by cell, the
    corpus n_probe times). The per-corpus-row top-k runs as a window
    with a WindowGroupLimit partial pass, so the id-keyed exchange
    carries O(corpus x k) (id, label, sim) tuples — the honest cost of
    the unbounded-seed regime; vectors cross the cell join only.

    Same vote semantics, tie-breaks, output schema, and ``min_frac``
    gate as `knn_label_vote`, with one approximation by design:
    neighbors outside the probed cells are invisible (n_considered
    counts probed seeds only), the standard IVF recall trade —
    exactly-equal results whenever every true top-k seed lands in a
    probed cell."""
    from usgs_lidar_spark.functions.vectors import dot, norm

    sb = ivf_assign(
        seeds.filter(F.col(label_col).isNotNull()),
        centroids, vec_col, round_digits,
    ).select(
        "__cid",
        F.col(id_col).alias("__sid"),
        F.col(label_col).alias("__slabel"),
        F.col(vec_col).alias("__svec"),
        norm(vec_col).alias("__snorm"),
    )
    cdf, sims, _tmp = _with_centroid_sims(
        corpus, centroids, vec_col, round_digits, "auto"
    )
    probes = F.slice(F.sort_array(sims, asc=False), 1, n_probe)
    cq = cdf.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        norm(vec_col).alias("__cnorm"),
        F.explode(probes).alias("__p"),
    ).select(
        id_col, "__cvec", "__cnorm", (-F.col("__p.negcid")).alias("__cid")
    )
    joined = cq.join(sb, "__cid").filter(F.col(id_col) != F.col("__sid"))
    raw = F.when(
        (F.col("__cnorm") == 0) | (F.col("__snorm") == 0), F.lit(0.0)
    ).otherwise(
        dot("__cvec", "__svec") / (F.col("__cnorm") * F.col("__snorm"))
    )
    w_top = Window.partitionBy(id_col).orderBy(
        F.col("sim").desc(), F.col("__sid").asc()
    )
    topk = (
        joined.withColumn("sim", F.round(raw, round_digits))
        .withColumn("__rk", F.row_number().over(w_top))
        .filter(F.col("__rk") <= k)
        .select(id_col, "__slabel", "sim")
    )
    votes = topk.groupBy(id_col, "__slabel").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.max("sim").alias("top_sim"),
    )
    w_tot = Window.partitionBy(id_col)
    w_maj = Window.partitionBy(id_col).orderBy(
        F.col("n_votes").desc(), F.col("__slabel").asc()
    )
    out = (
        votes.withColumn("n_considered", F.sum("n_votes").over(w_tot))
        .withColumn("__mrk", F.row_number().over(w_maj))
        .filter(F.col("__mrk") == 1)
        .select(
            id_col,
            F.col("__slabel").alias("pred_label"),
            "n_votes",
            "n_considered",
            (
                F.col("n_votes").cast("double") / F.col("n_considered")
            ).alias("vote_frac"),
            "top_sim",
        )
    )
    if min_frac is not None:
        out = out.filter(F.col("vote_frac") >= F.lit(min_frac))
    return out
