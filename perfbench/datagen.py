"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator`` built
from the run's ``--seed``: the same seed writes the same bytes. The program
under test only ever sees the files these functions write.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Point cloud world (lidar_polygon: the survey table and the ingested tiles)
# --------------------------------------------------------------------------

#: Origin of the synthetic survey area in EPSG:3857 metres (central Iowa,
#: where the reference's demo polygon lies).
ORIGIN_X = -10_420_000.0
ORIGIN_Y = 5_120_000.0
#: Side of one state-wide survey square, metres.
STATE_SIDE = 10_000.0
#: Gap between neighbouring states, metres.
STATE_GAP = 2_000.0
#: Each state holds two project surveys covering [0, 0.8] and [0.2, 1.0]
#: of its width: a polygon can qualify one, two or three regions.
PROJECT_SPANS = ((0.0, 0.8), (0.2, 1.0))


@dataclass(frozen=True)
class Region:
    filename: str
    region: str
    year: int | None
    xmin: float
    xmax: float
    ymin: float
    ymax: float
    points: int


def lidar_regions(n_states: int, state_points: int, project_points: int) -> list[Region]:
    """Catalog of ``n_states`` state-wide surveys, each with two overlapping
    project surveys inside it. State 0 is undated (null year), like the
    reference's ``IA_FullState``."""
    regions = []
    for s in range(n_states):
        x0 = ORIGIN_X + s * (STATE_SIDE + STATE_GAP)
        y0 = ORIGIN_Y
        year = None if s == 0 else 2010 + 2 * s
        name = f"ST{s}_FullState"
        regions.append(
            Region(
                name if year is None else f"{name}_{year}", name, year,
                x0, x0 + STATE_SIDE, y0, y0 + STATE_SIDE, state_points,
            )
        )
        for p, (a, b) in enumerate(PROJECT_SPANS):
            pyear = 2013 + 3 * p + s
            pname = f"ST{s}_Project{p}"
            regions.append(
                Region(
                    f"{pname}_{pyear}", pname, pyear,
                    x0 + a * STATE_SIDE, x0 + b * STATE_SIDE,
                    y0, y0 + STATE_SIDE, project_points,
                )
            )
    return regions


def point_table(rng: np.random.Generator, regions: list[Region]) -> pa.Table:
    """Points uniform inside each region's bbox, coordinates at 2 fixed
    decimals (LAS scale 0.01), ~3% class-7 noise, region/year partition
    columns (year null for undated regions)."""
    parts = []
    for r in regions:
        n = r.points
        x = np.round(rng.uniform(r.xmin, r.xmax, n), 2)
        y = np.round(rng.uniform(r.ymin, r.ymax, n), 2)
        # Gentle terrain: a tilted plane plus noise, 290-330 m.
        z = np.round(
            300.0
            + 15.0 * np.sin((x - ORIGIN_X) / 3_000.0)
            + 10.0 * np.cos((y - ORIGIN_Y) / 2_500.0)
            + rng.normal(0.0, 1.5, n),
            2,
        )
        cls = np.where(rng.random(n) < 0.03, 7, rng.choice([1, 2, 3, 5, 6], n))
        parts.append(
            pa.table(
                {
                    "region": pa.array([r.region] * n, pa.string()),
                    "year": pa.array([r.year] * n, pa.int32()),
                    "x": x,
                    "y": y,
                    "z": z,
                    "classification": cls.astype(np.int32),
                    "intensity": rng.integers(0, 4096, n).astype(np.int32),
                }
            )
        )
    return pa.concat_tables(parts)


def catalog_table(regions: list[Region]) -> pa.Table:
    return pa.table(
        {
            "filename": [r.filename for r in regions],
            "region": [r.region for r in regions],
            "year": pa.array([r.year for r in regions], pa.int32()),
            "xmin": [r.xmin for r in regions],
            "xmax": [r.xmax for r in regions],
            "ymin": [r.ymin for r in regions],
            "ymax": [r.ymax for r in regions],
            "points": pa.array([r.points for r in regions], pa.int64()),
        }
    )


def convex_polygon(
    rng: np.random.Generator, cx: float, cy: float, rx: float, ry: float
) -> list[tuple[float, float]]:
    """A convex CCW octagon inscribed in the ellipse (cx, cy, rx, ry): the
    four axis extremes (so its bbox is the ellipse's) plus one random
    boundary point per quadrant. Every vertex is shifted off the 0.01 m
    grid, so no generated point lies on an edge."""
    quads = np.arange(4) * (math.pi / 2)
    extra = quads + rng.uniform(0.2, 0.8, 4) * (math.pi / 2)
    ang = np.sort(np.concatenate([quads, extra]))
    return [
        (float(cx + rx * math.cos(a)) + 0.003141, float(cy + ry * math.sin(a)) + 0.002718)
        for a in ang
    ]


def lidar_polygons(
    rng: np.random.Generator, n_states: int, per_kind: int
) -> list[tuple[str, list[tuple[float, float]]]]:
    """``per_kind`` polygons of each kind, as (kind, polygon):

    * ``one``   -- wider than either project, so only the state qualifies;
    * ``two``   -- inside project 0 but crossing project 1's west edge;
    * ``three`` -- inside the two projects' overlap.
    """
    out = []
    for kind in ("one", "two", "three"):
        for _ in range(per_kind):
            x0 = ORIGIN_X + int(rng.integers(0, n_states)) * (STATE_SIDE + STATE_GAP)
            cy = ORIGIN_Y + STATE_SIDE * rng.uniform(0.45, 0.55)
            ry = STATE_SIDE * rng.uniform(0.33, 0.37)
            if kind == "one":
                cx, rx = rng.uniform(0.48, 0.52), rng.uniform(0.41, 0.46)
            elif kind == "two":
                cx, rx = rng.uniform(0.24, 0.28), rng.uniform(0.20, 0.23)
            else:
                cx, rx = rng.uniform(0.48, 0.52), rng.uniform(0.24, 0.27)
            out.append(
                (kind, convex_polygon(rng, x0 + STATE_SIDE * cx, cy, STATE_SIDE * rx, ry))
            )
    return out


# --------------------------------------------------------------------------
# Text / embedding / lineitem tables (llm_curation)
# --------------------------------------------------------------------------

#: The 30-word vocabulary of the synthetic corpus (plus the "dup" marker).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.14, 0.15, 0.15, 0.15])
N_SOURCES = 20
EMBED_DIM = 64


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Bag-of-words documents (10-100 words) with planted duplication:
    ~5% are another document plus the word ``dup`` (near duplicates) and
    ~0.2% repeat another document exactly."""
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        for _ in range(n_docs)
    ]
    near = rng.choice(n_docs, size=max(1, n_docs // 20), replace=False)
    for i in near:
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    exact = rng.choice(n_docs, size=max(1, n_docs // 500), replace=False)
    for i in exact:
        j = int(rng.integers(0, n_docs))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j]
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """Unit-norm float32 vectors, uniform on the 64-sphere, label 0-9."""
    v = rng.normal(size=(n_vecs, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )


def lineitem_table(rng: np.random.Generator, n_rows: int) -> pa.Table:
    """Order lines over n_rows/4 orders and n_rows/30 parts (the
    co-purchase graph ``graph_triangles_parts`` builds)."""
    n_orders = max(1, n_rows // 4)
    n_parts = max(1, n_rows // 30)
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n_rows), 2)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 3650, n_rows).astype(
        "timedelta64[D]"
    )
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_rows).astype(np.int64),
            "l_partkey": rng.integers(0, n_parts, n_rows).astype(np.int64),
            "l_suppkey": rng.integers(0, max(1, n_rows // 600), n_rows).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n_rows) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_rows) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_rows)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def write_table(table: pa.Table, directory: str, name: str) -> str:
    """Write ``<directory>/<name>.parquet`` (the layout catalog.load_table
    and the DuckDB oracle both read)."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, path)
    return path
