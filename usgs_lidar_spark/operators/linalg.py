"""Distributed linear algebra over embedding columns: exact-integer Gram
matrix accumulation and PCA projection.

The scale shape is the one distributed PCA has always had (e.g. Spark
MLlib's RowMatrix): each partition reduces its rows to ONE d x d partial
Gram — compute is d² per row but the shuffle is d² per PARTITION — and
the driver eigendecomposes the d x d result (d = embedding dim, tiny).
What this module adds over the classic recipe is bit-reproducibility:
vectors are quantized to integers first (`quantize_exact` — floor of a
power-of-two multiple, no rounding decision), so the Gram entries are
exact BIGINT sums — order-independent, partitioning-independent, and
replayable in ANSI SQL, where a float Gram would drift in the last ulp
per partitioning and break hash-compared oracles.

This is also the engine's one DELIBERATE pandas-UDF hot path: a
per-batch numpy matmul that reduces its input to d x d numbers is
exactly the case where Arrow-batched Python beats JVM expressions (the
expression form explodes d² rows per VECTOR; the batch form emits d²
rows per BATCH). The UDF-off-hot-paths doctrine is about row-wise
Python, not about batch-reducing kernels.

Overflow envelope (same doctrine as `functions/vectors.dot_q`): per-row
products of unit-range components are <= 2^(2*qbits); a batch of B rows
accumulates <= B * 2^(2*qbits) per cell — at the default qbits=12 and
Arrow batches of 10^4 rows that is ~2^38, and the global BIGINT sum holds
to ~2^63 / 2^24 ≈ 5e11 rows per cell. Lower qbits for bigger corpora.
Nothing wraps silently: a batch partial that would leave int64 raises
`ArithmeticError` naming the envelope, and the cross-batch BIGINT sum
raises ARITHMETIC_OVERFLOW under ANSI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usgs_lidar_spark.functions.vectors import quantize_exact


def embed_gram_quantized(
    emb: DataFrame,
    vec_col: str = "embedding",
    qbits: int = 12,
) -> DataFrame:
    """Exact upper-triangle Gram matrix of the quantized embedding
    column: one row per (i, j), i <= j, 1-based, with
    ``g = sum over rows of q_i * q_j`` (q = floor(x * 2^qbits), BIGINT).

    The (i, j >= 1) rows of the aggregated `_gram_partials`: a numpy
    partial per Arrow batch, summed by one groupBy — the shuffle is
    O(d² x partitions), never O(rows). Result is bit-identical under
    any partitioning and equals the ANSI-SQL double loop (the oracle).
    """
    if qbits <= 0:
        raise ValueError(f"qbits must be positive, got {qbits}")
    return _sum_moments(_gram_partials(emb, vec_col, qbits)).filter(
        (F.col("i") >= 1) & (F.col("j") >= 1)
    )


def pca_components(
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    qbits: int = 12,
) -> list[list[float]]:
    """Top-k principal components of the embedding column, computed from
    the distributed exact moments in ONE scan: the driver receives the
    count, d first moments and d*(d+1)/2 Gram BIGINTs (bounded — never
    row data) and hands them to `_components_from_moments`.

    Returns k lists of d floats, variance-descending.
    """
    return _components_from_moments(
        _sum_moments(_gram_partials(emb, vec_col, qbits)),
        k,
        qbits,
        "pca_components: empty input",
    )


def embed_pca_project(
    emb: DataFrame,
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only projection onto given components (e.g. from
    `pca_components`): each output coordinate is a literal-weights dot
    product built as a zip_with/aggregate expression — whole-stage
    codegen, no UDF, no shuffle; the components travel in the plan, not
    as a joined table. Returns (id_col, proj: array<double>)."""
    if not components:
        raise ValueError("components must be non-empty")

    def dot_lit(comp: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in comp])
        prods = F.zip_with(
            F.col(vec_col), arr, lambda x, y: x.cast("double") * y
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)

    return emb.select(
        F.col(id_col),
        F.array(*[dot_lit(c) for c in components]).alias("proj"),
    )


def _gram_partials(
    emb: DataFrame, vec_col: str, qbits: int
) -> DataFrame:
    """The additive moment rows of a corpus, one set per Arrow batch:
    (0,0,count), (i,0,sum q_i) first moments, and (i,j,g) second
    moments for i <= j — all BIGINT, so any union of partials
    aggregates to the exact totals (integer addition is associative:
    a store of them can be append-only and crash-safe, with aggregation
    deferred to read). A numpy int64 matmul per batch, exact or raising
    (`_batch_moments`); see the module docstring for the envelope."""
    q = emb.select(quantize_exact(vec_col, qbits).alias("q"))

    def partial(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            first, g = _batch_moments(np.array(list(pdf["q"]), dtype=np.int64))
            d = len(first)
            iu, ju = np.triu_indices(d)
            rows = {
                "i": np.concatenate(([0], np.arange(1, d + 1), iu + 1)),
                "j": np.concatenate(
                    ([0], np.zeros(d, dtype=np.int64), ju + 1)
                ),
                "g": np.concatenate(
                    ([len(pdf)], first, g[iu, ju])
                ).astype(np.int64),
            }
            yield pd.DataFrame(rows)

    return q.mapInPandas(partial, "i long, j long, g long")


def _batch_moments(m):
    """First moments ``m.sum(axis=0)`` and Gram ``m.T @ m`` of one batch
    of quantized rows, exact.

    The int64 matmul wraps silently past int64, so a batch whose bound
    ``sum over rows of max(max|q|, max|q|²)`` reaches 2^62 (margin for the
    bound's own float rounding) is recomputed in Python integers, and a
    moment that leaves int64 there raises `ArithmeticError` naming the
    int64 envelope — the BIGINT moment rows cannot carry it."""
    import numpy as np

    peak = np.abs(m.astype(np.float64)).max(axis=1, initial=0.0)
    if float(np.maximum(peak, peak * peak).sum()) < 2.0**62:
        return m.sum(axis=0), m.T @ m
    exact = m.astype(object)
    first, g = exact.sum(axis=0), exact.T @ exact
    if any(not -(2**63) <= v < 2**63 for v in (*first.flat, *g.flat)):
        raise ArithmeticError(
            "Gram moment outside the int64 envelope (|sum q_i q_j| >= 2^63); "
            "lower qbits"
        )
    return first, g


def _sum_moments(partials: DataFrame) -> DataFrame:
    """Aggregate moment partials to exact (i, j, g) totals."""
    return partials.groupBy("i", "j").agg(F.sum("g").cast("long").alias("g"))


def _components_from_moments(
    moments: DataFrame, k: int, qbits: int, empty_msg: str
) -> list[list[float]]:
    """Top-k principal components from aggregated moment rows: the
    driver un-quantizes, mean-centers (cov = G/n - mean meanᵀ) and
    eigendecomposes the d x d matrix. Components are sign-normalized
    (largest-|coordinate| entry made positive) so the basis is
    deterministic up to numpy's eigh, which is deterministic for a
    fixed matrix."""
    import numpy as np

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    by = {(int(r["i"]), int(r["j"])): int(r["g"]) for r in moments.collect()}
    if not by:
        raise ValueError(empty_msg)
    n = by[(0, 0)]
    d = max(i for i, j in by if j == 0 and i > 0)
    scale = float(2**qbits)
    g = np.zeros((d, d), dtype=np.float64)
    for (i, j), v in by.items():
        if i >= 1 and j >= 1:
            g[i - 1, j - 1] = v / (scale * scale)
            g[j - 1, i - 1] = v / (scale * scale)
    mean = np.array(
        [by[(i, 0)] / scale for i in range(1, d + 1)], dtype=np.float64
    ) / float(n)
    cov = g / float(n) - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][: min(k, d)]
    comps = []
    for idx in order:
        c = vecs[:, idx]
        if c[int(np.argmax(np.abs(c)))] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return comps


def write_gram_store(
    emb: DataFrame, path: str, vec_col: str = "embedding", qbits: int = 12
) -> None:
    """Materialize the Gram/moment store for a corpus: per-batch
    integer partials appended as-is (no global aggregate at write —
    the rows are additive, so `read_gram_store` sums at read and an
    append can never leave stale derived state; the crash-safety
    contract the term/IVF sidecars need maintenance for falls out of
    additivity here)."""
    _gram_partials(emb, vec_col, qbits).write.mode("overwrite").parquet(path)


def append_to_gram_store(
    new_emb: DataFrame, path: str, vec_col: str = "embedding", qbits: int = 12
) -> None:
    """Incrementally grow the store: append the batch's partial rows.
    One write, no sidecar, no read-modify-write — aggregation is the
    reader's job, so concurrent appends and crash replays only ever
    risk DUPLICATE partials (the caller's idempotency contract, as in
    every append-only feed), never inconsistent derived stats."""
    _gram_partials(new_emb, vec_col, qbits).write.mode("append").parquet(path)


def read_gram_store(spark, path: str) -> DataFrame:
    """Aggregate the store to exact totals: (0,0) count, (i,0) first
    moments, (i,j) Gram entries — identical to the aggregated moments
    of a from-scratch pass over the union corpus."""
    return _sum_moments(spark.read.parquet(path))


def pca_components_from_store(
    spark, path: str, k: int = 8, qbits: int = 12
) -> list[list[float]]:
    """`pca_components` served from a persisted store — no corpus scan:
    the d*(d+1)/2 + d + 1 aggregated rows are the entire read."""
    return _components_from_moments(
        read_gram_store(spark, path),
        k,
        qbits,
        "pca_components_from_store: empty store",
    )
