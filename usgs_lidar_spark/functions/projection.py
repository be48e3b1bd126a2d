"""General EPSG reprojection dispatcher.

SURVEY.md §2 M1: the engine covers the CRS families the reference
actually touches (/root/reference/scripts/usgs_lidar.py:441-463 —
4326/3857/UTM via pyproj `to_crs`) with ZERO Python:

* EPSG:4326 <-> EPSG:3857 — closed form (functions/mercator.py);
* EPSG:4326 <-> EPSG:326xx/327xx (WGS84 UTM) — Krüger-series transverse
  Mercator as built-in expressions (functions/tmerc.py);
* EPSG:3857 <-> UTM — composition through 4326, still expression-only.

``reproject_cols`` dispatches among those pairs and returns plain
Columns, so the common reprojections whole-stage-codegen like any other
arithmetic. Only CRSs outside these families fall back to the
import-gated pyproj pandas UDF (`reproject_udf`) — the only Python UDF
left on the lidar path (the exact polygon crop is an expression too).
`reproject_any` is the one-call surface over both tiers: expressions
when the pair allows, the UDF's struct fields otherwise.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from usgs_lidar_spark.functions import mercator, tmerc


def _is_utm(epsg: int) -> bool:
    return 32601 <= epsg <= 32660 or 32701 <= epsg <= 32760


def reproject_cols(
    x: Column | str, y: Column | str, src_epsg: int, dst_epsg: int
) -> tuple[Column, Column]:
    """(x', y') Columns reprojecting ``(x, y)`` from src to dst EPSG using
    built-in expressions only. x/y are lon/lat degrees for 4326, meters
    otherwise. Raises NotImplementedError for pairs that genuinely need a
    geodesy library — use `reproject_udf` (pyproj) for those."""
    if src_epsg == dst_epsg:
        from pyspark.sql import functions as F

        return (
            F.col(x) if isinstance(x, str) else x,
            F.col(y) if isinstance(y, str) else y,
        )
    if src_epsg == 4326:
        if dst_epsg == 3857:
            return mercator.lon_to_x(x), mercator.lat_to_y(y)
        if _is_utm(dst_epsg):
            return tmerc.utm_forward(x, y, dst_epsg)
    if dst_epsg == 4326:
        if src_epsg == 3857:
            return mercator.x_to_lon(x), mercator.y_to_lat(y)
        if _is_utm(src_epsg):
            return tmerc.utm_inverse(x, y, src_epsg)
    if src_epsg == 3857 and _is_utm(dst_epsg):
        lon, lat = mercator.x_to_lon(x), mercator.y_to_lat(y)
        return tmerc.utm_forward(lon, lat, dst_epsg)
    if _is_utm(src_epsg) and dst_epsg == 3857:
        lon, lat = tmerc.utm_inverse(x, y, src_epsg)
        return mercator.lon_to_x(lon), mercator.lat_to_y(lat)
    raise NotImplementedError(
        f"no expression path for EPSG:{src_epsg}->EPSG:{dst_epsg}; supported "
        "expression pairs are {4326, 3857, UTM 326xx/327xx}. Use "
        "reproject_any / reproject_udf (pyproj-backed, Arrow-batched, "
        "or an injected transformer) for other CRSs."
    )


def reproject_any(
    x: Column | str,
    y: Column | str,
    src_epsg: int,
    dst_epsg: int,
    transformer_factory=None,
) -> tuple[Column, Column]:
    """The one-call reprojection surface: (x', y') Columns for ANY EPSG
    pair. Pairs inside the {4326, 3857, UTM 326xx/327xx} families come
    back as pure built-in expressions (whole-stage-codegen'd, zero
    Python — `reproject_cols`); every other pair routes through the
    Arrow-batched pyproj pandas UDF (`reproject_udf`) and returns the
    struct's fields as the same (x', y') Column pair, so callers write
    one line either way and only genuinely-exotic CRSs pay the Python
    boundary. Without pyproj (and no injected ``transformer_factory``)
    the exotic tier raises the same loud NotImplementedError as
    `reproject_udf` — at plan time, not mid-job."""
    try:
        return reproject_cols(x, y, src_epsg, dst_epsg)
    except NotImplementedError:
        pass
    from pyspark.sql import functions as F

    udf = reproject_udf(src_epsg, dst_epsg, transformer_factory)
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    p = udf(xc, yc)
    return p.getField("x"), p.getField("y")


def have_pyproj() -> bool:
    try:
        import pyproj  # noqa: F401

        return True
    except ImportError:
        return False


def reproject_udf(src_epsg: int, dst_epsg: int, transformer_factory=None):
    """Arrow-batched (x, y) -> struct(x, y) reprojection via pyproj.

    ``transformer_factory``: zero-arg callable returning an object with
    ``.transform(xs, ys) -> (xs', ys')`` over numpy arrays (the pyproj
    Transformer protocol). Default builds a pyproj Transformer for the
    EPSG pair; injecting a factory lets environments without pyproj (and
    tests) exercise the identical Arrow/struct plumbing. The factory must
    be picklable — it ships to the Python workers in the UDF closure.

    The transformer is constructed lazily and cached per Python worker
    (not per Arrow batch) — the standard expensive-closure pattern:
    pyproj CRS setup costs ~10 ms, a 100 TB scan has millions of batches.
    """
    if transformer_factory is None:
        if not have_pyproj():
            raise NotImplementedError(
                f"reprojection {src_epsg}->{dst_epsg} requires pyproj, which "
                "is not installed here; EPSG:4326<->3857 is available as pure "
                "column math in usgs_lidar_spark.functions.mercator"
            )
        transformer_factory = _PyprojFactory(src_epsg, dst_epsg)

    worker_cache: dict[str, object] = {}

    @pandas_udf("struct<x: double, y: double>")
    def reproject(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        tr = worker_cache.get("tr")
        if tr is None:
            tr = worker_cache["tr"] = transformer_factory()
        ox, oy = tr.transform(x.to_numpy(), y.to_numpy())
        return pd.DataFrame({"x": ox, "y": oy})

    return reproject


class _PyprojFactory:
    """Picklable default transformer factory (a lambda would not ship)."""

    def __init__(self, src_epsg: int, dst_epsg: int):
        self.src_epsg = src_epsg
        self.dst_epsg = dst_epsg

    def __call__(self):
        import pyproj

        return pyproj.Transformer.from_crs(
            self.src_epsg, self.dst_epsg, always_xy=True
        )
