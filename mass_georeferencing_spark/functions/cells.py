"""Hierarchical tiling cell index (the engine's spatial access path).

Replaces the reference's PostGIS GIST index (database/mass_georef_database.sql:449,
SURVEY.md O5) with an H3/S2-style discrete global grid: a power-of-two lat/lon grid
with 64-bit cell ids, parent/child hierarchy, neighbor rings, and polygon covers.

Design decisions (all scale-driven):

- **Row-major ids, not Morton.** Under Spark's hash partitioning, id locality buys
  nothing for joins/aggs; row-major keeps ``latlng_to_cell`` expressible as a pure
  JVM ``Column`` expression (floor + integer math -> whole-stage codegen, and
  byte-identical in the DuckDB oracle). Layout:
  ``cell = ((x << 26) | y) << 5 | res`` with ``x = floor((lon+180)/360 * 2^res)``,
  ``y = floor((lat+90)/180 * 2^res)``, res in [0, 26]. Fits in a signed int64.
- **Equirectangular cells.** Constant cell height (180/2^res deg); width shrinks
  with latitude. Ring-expansion kNN accounts for this via a conservative
  per-latitude lower bound (:func:`ring_guarantee_m`).
- Resolution 12 ≈ 4.9 km cells at the equator — the default for gazetteer point
  bucketing; polygon covers pick resolution by polygon size.

The numpy and Column implementations are pinned equal by tests/test_cells.py.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .geo import EARTH_RADIUS_M, PreparedPolygon

MAX_RES = 26
RES_BITS = 5
Y_BITS = 26

DEFAULT_POINT_RES = 12


def latlng_to_xy(lat, lon, res: int):
    """Vectorized numpy (lat, lon) -> integer grid (x, y) at resolution res."""
    n = np.int64(1) << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return x, y


def xy_to_cell(x, y, res: int):
    return ((np.asarray(x, dtype=np.int64) << Y_BITS) | np.asarray(y, dtype=np.int64)) << RES_BITS | res


def latlng_to_cell(lat, lon, res: int = DEFAULT_POINT_RES):
    """Vectorized numpy (lat, lon) -> int64 cell id."""
    x, y = latlng_to_xy(lat, lon, res)
    return xy_to_cell(x, y, res)


def cell_to_xyr(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = cell & ((1 << RES_BITS) - 1)
    xy = cell >> RES_BITS
    y = xy & ((np.int64(1) << Y_BITS) - 1)
    x = xy >> Y_BITS
    return x, y, res


def cell_to_parent(cell, parent_res: int):
    x, y, res = cell_to_xyr(cell)
    shift = res - parent_res
    return xy_to_cell(x >> shift, y >> shift, parent_res)


def cell_center(cell):
    """Cell center as (lat, lon) numpy arrays."""
    x, y, res = cell_to_xyr(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon = (x.astype(np.float64) + 0.5) / n * 360.0 - 180.0
    lat = (y.astype(np.float64) + 0.5) / n * 180.0 - 90.0
    return lat, lon


def cell_bounds(cell):
    """(min_lon, min_lat, max_lon, max_lat) arrays."""
    x, y, res = cell_to_xyr(cell)
    n = (np.int64(1) << res).astype(np.float64)
    min_lon = x / n * 360.0 - 180.0
    max_lon = (x + 1) / n * 360.0 - 180.0
    min_lat = y / n * 180.0 - 90.0
    max_lat = (y + 1) / n * 180.0 - 90.0
    return min_lon, min_lat, max_lon, max_lat


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (x wraps around the antimeridian,
    y clamps at the poles). Scalar cell -> int64 array."""
    x, y, res = (int(v) for v in cell_to_xyr(np.int64(cell)))
    n = 1 << res
    dx = np.arange(-k, k + 1)
    dy = np.arange(-k, k + 1)
    gx, gy = np.meshgrid(dx, dy)
    xs = (x + gx.ravel()) % n
    ys = y + gy.ravel()
    valid = (ys >= 0) & (ys < n)
    return np.unique(xy_to_cell(xs[valid], ys[valid], res))


def ring(cell: int, k: int) -> np.ndarray:
    """Only the cells at exactly Chebyshev distance k (the k-th 'ring')."""
    if k == 0:
        return np.array([cell], dtype=np.int64)
    x, y, res = (int(v) for v in cell_to_xyr(np.int64(cell)))
    n = 1 << res
    coords = []
    for dx in range(-k, k + 1):
        for dy in (-k, k):
            coords.append(((x + dx) % n, y + dy))
    for dy in range(-k + 1, k):
        for dx in (-k, k):
            coords.append(((x + dx) % n, y + dy))
    arr = np.array(coords, dtype=np.int64)
    arr = arr[(arr[:, 1] >= 0) & (arr[:, 1] < n)]
    if not len(arr):
        return np.empty(0, dtype=np.int64)
    return np.unique(xy_to_cell(arr[:, 0], arr[:, 1], res))


def cell_span_m(lat: float, res: int) -> tuple[float, float]:
    """(width_m, height_m) of a cell at the given latitude."""
    deg_h = 180.0 / (1 << res)
    deg_w = 360.0 / (1 << res)
    m_per_deg = math.pi * EARTH_RADIUS_M / 180.0
    width = deg_w * m_per_deg * max(math.cos(math.radians(abs(lat))), 0.0)
    return width, deg_h * m_per_deg


def ring_guarantee_m(lat: float, res: int, k: int) -> float:
    """Conservative lower bound on the distance to any point OUTSIDE the k-ring
    of the query's cell. If the best candidate found so far is closer than this,
    ring expansion may stop: the kNN result is exact.

    Uses the narrowest cell width within the ring's latitude band (cos shrinks
    toward the poles), so the bound is valid anywhere inside the band.
    """
    n = 1 << res
    deg_h = 180.0 / n
    m_per_deg = math.pi * EARTH_RADIUS_M / 180.0
    height = deg_h * m_per_deg
    if 2 * k + 1 >= n:
        # the ring wraps every longitude: escape is only possible vertically,
        # so the east-west (polar-shrinking) width bound no longer applies
        return k * height
    band_lat = min(abs(lat) + (k + 1) * deg_h, 90.0)
    width = (360.0 / n) * m_per_deg * math.cos(math.radians(band_lat))
    return k * min(max(width, 0.0), height)


def polygon_to_cells(rings: list[np.ndarray], res: int) -> np.ndarray:
    """Covering set: every cell whose rectangle intersects the polygon.

    Guarantee needed by the PIP join: any point inside the polygon maps to a cell
    in the cover. Method: enumerate bbox cells, keep a cell if (a) its center is
    inside, (b) any polygon vertex falls in the cell, or (c) any polygon edge
    crosses the cell rectangle (conservative segment-rect overlap test).
    """
    prep = PreparedPolygon(rings)
    n = 1 << res
    x0, y0 = (int(v) for v in latlng_to_xy(np.float64(prep.miny), np.float64(prep.minx), res))
    x1, y1 = (int(v) for v in latlng_to_xy(np.float64(prep.maxy), np.float64(prep.maxx), res))
    xs = np.arange(x0, x1 + 1)
    ys = np.arange(y0, y1 + 1)
    gx, gy = np.meshgrid(xs, ys)
    gx, gy = gx.ravel(), gy.ravel()
    # (a) center containment
    clon = (gx + 0.5) / n * 360.0 - 180.0
    clat = (gy + 0.5) / n * 180.0 - 90.0
    keep = prep.contains(clon, clat)
    # (b) polygon vertices inside the cell
    vx = np.concatenate([prep.x1, prep.x2])
    vy = np.concatenate([prep.y1, prep.y2])
    vgx = np.floor((vx + 180.0) / 360.0 * n).astype(np.int64)
    vgy = np.floor((vy + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(vgx, 0, n - 1, out=vgx)
    np.clip(vgy, 0, n - 1, out=vgy)
    vset = set(zip(vgx.tolist(), vgy.tolist()))
    # (c) edge bbox overlaps the cell (conservative: superset of true edge crossings)
    ex0 = np.floor((np.minimum(prep.x1, prep.x2) + 180.0) / 360.0 * n).astype(np.int64)
    ex1 = np.floor((np.maximum(prep.x1, prep.x2) + 180.0) / 360.0 * n).astype(np.int64)
    ey0 = np.floor((np.minimum(prep.y1, prep.y2) + 90.0) / 180.0 * n).astype(np.int64)
    ey1 = np.floor((np.maximum(prep.y1, prep.y2) + 90.0) / 180.0 * n).astype(np.int64)
    eset: set[tuple[int, int]] = set()
    for i in range(len(ex0)):
        for cx in range(max(int(ex0[i]), 0), min(int(ex1[i]), n - 1) + 1):
            for cy in range(max(int(ey0[i]), 0), min(int(ey1[i]), n - 1) + 1):
                eset.add((cx, cy))
    extra = vset | eset
    keep |= np.array([(int(a), int(b)) in extra for a, b in zip(gx, gy)])
    return np.unique(xy_to_cell(gx[keep], gy[keep], res))


# ---------------------------------------------------------------------------
# JVM Column expression (codegen + DuckDB-oracle-expressible)
# ---------------------------------------------------------------------------


def latlng_to_cell_col(lat: Column, lon: Column, res: int = DEFAULT_POINT_RES) -> Column:
    """Pure-JVM cell id: identical math to :func:`latlng_to_cell` (pinned by tests).

    SQL-oracle equivalent (DuckDB):
        ((least(greatest(cast(floor((lon+180)/360*{n}) as bigint),0),{n}-1) * {2^26}
          + least(greatest(cast(floor((lat+90)/180*{n}) as bigint),0),{n}-1)) * 32 + res
    """
    x, y = _xy_cols(lat, lon, res)
    return _xy_to_cell_col(x, y, res)


def _xy_cols(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    n = 1 << res
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))).cast("long")
    x = F.least(F.greatest(x, F.lit(0)), F.lit(n - 1))
    y = F.least(F.greatest(y, F.lit(0)), F.lit(n - 1))
    return x, y


def _xy_to_cell_col(x: Column, y: Column, res: int) -> Column:
    return (x * F.lit(1 << Y_BITS) + y) * F.lit(1 << RES_BITS) + F.lit(res)


def ring_cells_col(
    lat: Column, lon: Column, res: int, k: int, full_disk: bool = False
) -> Column:
    """Pure-JVM twin of :func:`ring` (or of :func:`k_ring` when ``full_disk``)
    for the point's cell: an array of distinct cell ids, pinned equal as a set
    by tests/test_cells_kernel.py. x wraps mod 2^res, a y off the grid is
    dropped (NULL, removed here), and wrap-around repeats are removed by
    ``array_distinct``."""
    n = 1 << res
    x, y = _xy_cols(lat, lon, res)
    cells = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if not full_disk and max(abs(dx), abs(dy)) != k:
                continue
            yy = y + F.lit(dy)
            xx = F.pmod(x + F.lit(dx), F.lit(n))
            cells.append(F.when((yy >= 0) & (yy < n), _xy_to_cell_col(xx, yy, res)))
    return F.array_compact(F.array_distinct(F.array(*cells)))


def ring_guarantee_col(lat: Column, res: int, k: int) -> Column:
    """Pure-JVM twin of :func:`ring_guarantee_m` (same operations in the same
    order; pinned by tests/test_cells_kernel.py)."""
    n = 1 << res
    deg_h = 180.0 / n
    m_per_deg = math.pi * EARTH_RADIUS_M / 180.0
    height = deg_h * m_per_deg
    if 2 * k + 1 >= n:
        return F.lit(k * height)
    band_lat = F.least(F.abs(lat) + F.lit((k + 1) * deg_h), F.lit(90.0))
    width = F.lit((360.0 / n) * m_per_deg) * F.cos(F.radians(band_lat))
    return F.lit(float(k)) * F.least(F.greatest(width, F.lit(0.0)), F.lit(height))


def cell_parent_col(cell: Column, res: int, parent_res: int) -> Column:
    """Parent cell id at a coarser resolution — pure integer bit math (JVM
    codegen; DuckDB twin in :func:`cell_parent_oracle_sql`)."""
    shift = res - parent_res
    xy = F.shiftright(cell, RES_BITS)
    y = xy.bitwiseAND(F.lit((1 << Y_BITS) - 1))
    x = F.shiftright(xy, Y_BITS)
    return (
        F.shiftleft(F.shiftleft(F.shiftright(x, shift), Y_BITS) + F.shiftright(y, shift), RES_BITS)
        + F.lit(parent_res)
    )


def cell_parent_oracle_sql(cell_expr: str, res: int, parent_res: int) -> str:
    shift = res - parent_res
    xy = f"(({cell_expr}) >> {RES_BITS})"
    y = f"({xy} & {(1 << Y_BITS) - 1})"
    x = f"({xy} >> {Y_BITS})"
    return f"((((({x} >> {shift}) << {Y_BITS}) + ({y} >> {shift})) << {RES_BITS}) + {parent_res})"


def cell_oracle_sql(lat_expr: str, lon_expr: str, res: int = DEFAULT_POINT_RES) -> str:
    """The DuckDB-SQL twin of :func:`latlng_to_cell_col` (used by oracle_sql())."""
    n = 1 << res
    x = f"least(greatest(cast(floor(({lon_expr}+180.0)/360.0*{n}.0) as bigint),0),{n - 1})"
    y = f"least(greatest(cast(floor(({lat_expr}+90.0)/180.0*{n}.0) as bigint),0),{n - 1})"
    return f"(({x}*{1 << Y_BITS}+{y})*{1 << RES_BITS}+{res})"
