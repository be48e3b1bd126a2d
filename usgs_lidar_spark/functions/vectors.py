"""Vector math over ArrayType(FloatType) embedding columns — pure
higher-order Catalyst expressions (zip_with / aggregate), no UDF. Elements
are cast to double before any arithmetic so results are reproducible and
engine-comparable (float accumulation would drift).

Construction cost (optimization round 17, guide §7.3): when the inputs
are plain column NAMES, each builder renders its whole expression as ONE
SQL string parsed JVM-side — the Column-API composition costs ~25-30
py4j round trips per dot/norm (measured 0.23 s for 8 dot() calls inside
pipe_end_to_end_v10's construction). The parsed plans are SEMANTICALLY
EQUAL to the composed forms (`LogicalPlan.sameResult`, pinned by
`tests/test_sqlbuild_parity.py`), so results and CacheManager lookups
are untouched. Column arguments (lambda variables, computed columns)
keep the composed path — they have no SQL text form.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Names safe to inline into SQL text unquoted-identifier-style. Dotted
#: names are EXCLUDED on purpose: `a.b` as a Column means struct-field
#: access, which a backquoted identifier would silently change
#: (ADVICE r16) — those fall back to the composed form.
_PLAIN_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _sql_name(col: Column | str) -> str | None:
    if isinstance(col, str) and _PLAIN_IDENT.match(col):
        return f"`{col}`"
    return None


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product in double precision."""
    na, nb = _sql_name(a), _sql_name(b)
    if na and nb:
        return F.expr(_dot_sql(na, nb))
    prods = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    na = _sql_name(a)
    if na:
        return F.expr(f"sqrt({_dot_sql(na, na)})")
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0 when either norm is 0."""
    na, nb = _sql_name(a), _sql_name(b)
    if na and nb:
        sna = f"sqrt({_dot_sql(na, na)})"
        snb = f"sqrt({_dot_sql(nb, nb)})"
        return F.expr(
            f"CASE WHEN ({sna} = 0) OR ({snb} = 0) THEN 0.0D "
            f"ELSE {_dot_sql(na, nb)} / ({sna} * {snb}) END"
        )
    d = dot(a, b)
    nca, ncb = norm(a), norm(b)
    return F.when((nca == 0) | (ncb == 0), F.lit(0.0)).otherwise(
        d / (nca * ncb)
    )


def sign_lsh_bucket(a: Column | str, n_bits: int = 8) -> Column:
    """Deterministic LSH bucket: sign bits of the first `n_bits` dimensions
    (axis-aligned random-projection hashing — hyperplanes are the coordinate
    axes, so no seeded randomness is needed and the oracle can reproduce it).
    bucket = sum_j (a[j] > 0) << j, a long in [0, 2^n_bits)."""
    na = _sql_name(a)
    if na:
        terms = " + ".join(
            f"CAST(CASE WHEN {na}[{j}] > 0 THEN {1 << j} ELSE 0 END AS BIGINT)"
            for j in range(n_bits)
        )
        return F.expr(f"CAST(0 AS BIGINT)" + (f" + {terms}" if terms else ""))
    arr = _c(a)
    b = F.lit(0).cast("long")
    for j in range(n_bits):
        b = b + F.when(arr.getItem(j) > 0, F.lit(1 << j)).otherwise(0).cast("long")
    return b


def quantize_exact(a: Column | str, qbits: int = 20) -> Column:
    """Exactly-reproducible integer quantization of a float/double vector:
    ``q_i = floor(x_i * 2^qbits)`` as BIGINT.

    Every step is bit-deterministic in ANY IEEE-754 engine: multiplying a
    double by a power of two only shifts the exponent (no rounding, barring
    under/overflow at magnitudes this pipeline never sees), and floor of an
    exact double is unambiguous. Unlike decimal ROUND(x, d) — whose binary
    half-way behavior is the classic cross-engine knife edge — there is no
    rounding decision anywhere, so Spark, DuckDB, and Python's
    ``math.floor(x * 2.0**qbits)`` all produce the SAME integers from the
    same inputs. Integer dot products / norms over quantized vectors are
    then exact BIGINT arithmetic: order-independent, hash-stable across
    engines, layouts, and SIMD summation strategies.

    A NaN, infinite or beyond-int64 component raises, as DuckDB's cast
    does, where Spark's floor would clamp it (NaN to 0); NaN sorts above
    every double, so ``x < 2^(63-qbits)`` rejects it too."""
    lim, scale = float(2 ** (63 - qbits)), float(2**qbits)
    msg = f"quantize_exact: NaN or outside the int64 envelope at qbits={qbits}"
    na = _sql_name(a)
    if na:
        from usgs_lidar_spark.functions.sqlbuild import dlit

        x = "CAST(x AS DOUBLE)"
        return F.expr(
            f"transform({na}, x -> CASE WHEN NOT ({x} >= {dlit(-lim)} AND "
            f"{x} < {dlit(lim)}) THEN raise_error('{msg}') "
            f"ELSE CAST(floor({x} * {dlit(scale)}) AS BIGINT) END)"
        )

    def q(x):
        x = x.cast("double")
        return F.when(~((x >= -lim) & (x < lim)), F.raise_error(msg)).otherwise(
            F.floor(x * F.lit(scale)).cast("long")
        )

    return F.transform(_c(a), q)


def dot_q(a: Column | str, b: Column | str) -> Column:
    """Exact BIGINT dot product of two already-quantized integer vectors.

    Overflow envelope: each product is <= 2^(2*qbits) for unit-scale
    inputs, so the dot is <= dim * 2^(2*qbits) (~2^46 at qbits=20,
    dim=64) — safely inside int64 per row. Downstream SUMs over many
    rows are the caller's responsibility: Spark wraps silently past
    2^63 while DuckDB promotes to HUGEINT, so a cross-engine hash
    breaks exactly at the wrap. See `ivf_drift_metrics_exact` for the
    worked per-cell cardinality bound."""
    na, nb = _sql_name(a), _sql_name(b)
    if na and nb:
        return F.expr(
            f"aggregate(zip_with({na}, {nb}, (x, y) -> x * y), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)
