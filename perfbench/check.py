"""Output fingerprints: the forcing action and the correctness check in one
aggregate.

Every operation's result is forced by ONE all-column aggregate (the same
forcing ``bench.HASH_FORCED`` uses, so no output column can be pruned):

* ``n``            -- row count;
* ``h``            -- sum of ``pmod(xxhash64(<non-float columns>), P)``,
                      an order-insensitive hash of every exact column;
* ``<c>``, ``|c|`` -- ``sum(c)`` and ``sum(abs(c))`` of every float column;
* ``=c``           -- the exact sum of every float column, each value cast
                      to ``decimal(38, 12)`` and summed without rounding.

Float columns are compared by their sums rather than hashed: engines may
differ in the last ulps (libm, formula order), and the repository's oracle
contract already accepts last-ulp float noise. The exact sum does not
depend on summation order, so its tolerance is per row: ``ROW_ULPS`` ulps
of every value plus the cast's 1e-12 quantum. A NaN makes both double
sums NaN; the exact sum skips values that do not fit the decimal (NaN,
infinities, magnitudes from 1e26), and the double sums stand in for it when
it overflows.

Columns are first cast to their type family, so the check compares values,
not the engines' choice of integer width.

The expected fingerprint is the same aggregate run by Spark over the DuckDB
oracle's result rows: the rows come from DuckDB, so the check does not
depend on the program's results.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_P = 1_000_000_007
#: Relative tolerance on double sums (of the column's abs-sum): covers any
#: summation order.
FLOAT_RTOL = 1e-12
#: Per-row tolerance of the exact sums, in ulps (2**-52 relative) of each value.
ROW_ULPS = 64
#: Type of the exact sums' cast (the 1e-12 quantum of the tolerance).
EXACT = T.DecimalType(38, 12)


def _canonical(col: str, dt: T.DataType):
    """Cast a column to its type family, so engines that type a value
    differently (int vs bigint, decimal(38,0) vs bigint, NTZ vs LTZ
    timestamp) hash alike: integral -> bigint, fractional -> double,
    timestamps -> their UTC string."""
    c = F.col(col)
    if isinstance(dt, T.DecimalType):
        return c.cast("bigint" if dt.scale == 0 else "double")
    if isinstance(dt, T.IntegralType):
        return c.cast("bigint")
    if isinstance(dt, T.FloatType):
        return c.cast("double")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return c.cast("string")
    return c


def fingerprint(df: DataFrame) -> dict:
    """Force ``df`` with the one aggregate job described in the module
    docstring and return its fingerprint."""
    canon = df.select(
        *[_canonical(f.name, f.dataType).alias(f.name)
          for f in sorted(df.schema.fields, key=lambda f: f.name)]
    )
    fields = canon.schema.fields
    exact = [F.col(f.name) for f in fields if not isinstance(f.dataType, T.DoubleType)]
    aggs = [F.count(F.lit(1)).alias("n")]
    if exact:
        aggs.append(F.sum(F.pmod(F.xxhash64(*exact), F.lit(_P))).alias("h"))
    for f in fields:
        if isinstance(f.dataType, T.DoubleType):
            aggs.append(F.sum(f.name).alias(f.name))
            aggs.append(F.sum(F.abs(f.name)).alias(f"|{f.name}|"))
            aggs.append(F.try_sum(F.col(f.name).try_cast(EXACT)).alias(f"={f.name}"))
    fp = canon.agg(*aggs).collect()[0].asDict()
    fp["columns"] = [f.name for f in fields]
    return fp


def expected_fingerprint(spark: SparkSession, oracle_rows) -> dict:
    """Fingerprint of DuckDB result rows (a pyarrow Table)."""
    return fingerprint(spark.createDataFrame(oracle_rows))


def tampered(fp: dict, what: str) -> dict:
    """``fp`` with one part corrupted, for the self-test: the row count
    (``n``), the row hash (``h``) or the first float column's sums by 0.01
    (``float``)."""
    fp = dict(fp)
    if what == "n":
        fp["n"] += 1
    elif what == "h" and fp.get("h") is not None:
        fp["h"] += 1
    elif what == "float":
        for c in fp["columns"]:
            if fp.get(f"={c}") is not None:
                fp[f"={c}"] += Decimal("0.01")
                fp[c] += 0.01
                break
    return fp


def matches(got: dict, want: dict) -> bool:
    """Exact on row count, columns and hash; float columns by their exact
    sums within the per-row tolerance and their double sums within
    FLOAT_RTOL of the larger abs-sum (an all-NULL column sums to None on
    both sides, a NaN anywhere makes both double sums NaN)."""
    if got["columns"] != want["columns"] or got["n"] != want["n"]:
        return False
    if got["n"] == 0:
        return True
    if got.get("h") != want.get("h"):
        return False
    for key in got:
        if key in ("n", "h", "columns") or key.startswith(("|", "=")):
            continue
        pair = (got[key], want.get(key), got[f"|{key}|"], want.get(f"|{key}|"))
        if any(v is None for v in pair):
            if not all(v is None for v in pair):
                return False
            continue
        g, w, ga, wa = pair
        if math.isnan(g) or math.isnan(w):
            if not (math.isnan(g) and math.isnan(w)):
                return False
            continue
        rtol = FLOAT_RTOL * max(ga, wa, 1e-300)
        gx, wx = got[f"={key}"], want.get(f"={key}")
        if gx is not None and wx is not None:
            tol = ROW_ULPS * 2.0**-52 * max(ga, wa) + got["n"] * 1e-12
            if abs(float(gx - wx)) > tol:
                return False
        elif abs(g - w) > rtol:
            return False
        if abs(ga - wa) > rtol:
            return False
    return True
