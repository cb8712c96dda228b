"""Kernel tests for the tiling cell index (numpy side; JVM parity in test_cells_spark)."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mass_georeferencing_spark.functions.cells import (
    MAX_RES,
    cell_bounds,
    cell_center,
    cell_span_m,
    cell_to_parent,
    cell_to_xyr,
    k_ring,
    latlng_to_cell,
    polygon_to_cells,
    ring,
    ring_cells_col,
    ring_guarantee_col,
    ring_guarantee_m,
)
from mass_georeferencing_spark.functions.geo import PreparedPolygon

SQUARE = np.array([[10.0, 10.0], [20.0, 10.0], [20.0, 20.0], [10.0, 20.0], [10.0, 10.0]])


@settings(max_examples=300, deadline=None)
@given(
    st.floats(min_value=-90, max_value=90, allow_nan=False),
    st.floats(min_value=-180, max_value=180, allow_nan=False),
    st.integers(min_value=0, max_value=26),
)
def test_cell_roundtrip(lat, lon, res):
    cell = latlng_to_cell(np.array([lat]), np.array([lon]), res)[0]
    x, y, r = cell_to_xyr(cell)
    assert r == res
    min_lon, min_lat, max_lon, max_lat = cell_bounds(np.array([cell]))
    # the point lies inside (or on the edge of) its own cell
    assert min_lon[0] - 1e-9 <= lon <= max_lon[0] + 1e-9 or lon == 180.0
    assert min_lat[0] - 1e-9 <= lat <= max_lat[0] + 1e-9 or lat == 90.0


def test_parent_contains_child():
    cell = latlng_to_cell(np.array([38.9]), np.array([-77.03]), 12)[0]
    parent = cell_to_parent(np.array([cell]), 8)[0]
    lat, lon = cell_center(np.array([cell]))
    assert latlng_to_cell(lat, lon, 8)[0] == parent


def test_k_ring_sizes():
    cell = latlng_to_cell(np.array([0.0]), np.array([0.0]), 10)[0]
    assert len(k_ring(int(cell), 0)) == 1
    assert len(k_ring(int(cell), 1)) == 9
    assert len(k_ring(int(cell), 2)) == 25
    assert len(ring(int(cell), 1)) == 8
    assert len(ring(int(cell), 2)) == 16
    # rings partition the k-ring
    kr = set(k_ring(int(cell), 2).tolist())
    parts = set()
    for k in range(3):
        parts |= set(ring(int(cell), k).tolist())
    assert kr == parts


def test_ring_clamps_at_pole():
    cell = latlng_to_cell(np.array([89.99]), np.array([0.0]), 4)[0]
    assert len(k_ring(int(cell), 1)) == 6  # top row clipped


def test_ring_wraps_antimeridian():
    cell = latlng_to_cell(np.array([0.0]), np.array([179.99]), 4)[0]
    ringset = k_ring(int(cell), 1)
    assert len(ringset) == 9  # x wraps, nothing clipped
    lons = cell_center(ringset)[1]
    assert (lons > 150).any() and (lons < -150).any()


def test_polygon_cover_contains_inner_points():
    res = 6
    cover = set(polygon_to_cells([SQUARE], res).tolist())
    rng = np.random.default_rng(7)
    lons = rng.uniform(10.01, 19.99, 500)
    lats = rng.uniform(10.01, 19.99, 500)
    cells = latlng_to_cell(lats, lons, res)
    assert set(cells.tolist()) <= cover
    # and the cover isn't the whole bbox+slack world
    assert len(cover) < 4096


def pick_cover_res(rings: list[np.ndarray], target_cells: int = 64) -> int:
    """A cover resolution at which the polygon spans roughly ``target_cells``."""
    prep = PreparedPolygon(rings)
    w = max(prep.maxx - prep.minx, 1e-9)
    h = max(prep.maxy - prep.miny, 1e-9)
    side = math.sqrt(target_cells)
    res_w = math.log2(360.0 / (w / side)) if w else MAX_RES
    res_h = math.log2(180.0 / (h / side)) if h else MAX_RES
    return max(0, min(MAX_RES, int(min(res_w, res_h))))


def test_pick_cover_res_reasonable():
    res = pick_cover_res([SQUARE], target_cells=64)
    cover = polygon_to_cells([SQUARE], res)
    assert 16 <= len(cover) <= 400


def test_ring_guarantee_bound():
    # any point outside the k-ring must really be farther than the bound
    res, k = 8, 2
    lat, lon = 40.0, -100.0
    cell = int(latlng_to_cell(np.array([lat]), np.array([lon]), res)[0])
    bound = ring_guarantee_m(lat, res, k)
    inside = set(k_ring(cell, k).tolist())
    # sample points just outside the ring
    from mass_georeferencing_spark.functions.geo import haversine_m

    outside = ring(cell, k + 1)
    olat, olon = cell_center(outside)
    d = haversine_m(np.full(len(outside), lon), np.full(len(outside), lat), olon, olat)
    # centers of ring k+1 cells are outside the k-ring; all must exceed the bound
    assert (d >= bound).all()
    assert bound > 0


_LAT = st.sampled_from([-90.0, 90.0, -89.99, 89.99, 0.0]) | st.floats(-90, 90)
_LON = st.sampled_from([-180.0, 180.0, -179.99, 179.99]) | st.floats(-180, 180)


@settings(max_examples=25, deadline=None)
@given(res=st.integers(1, 6), data=st.data())
def test_jvm_ring_cells_match_numpy(spark, res, data):
    # the kNN probe's JVM ring/disk cells and settle bound equal the numpy
    # reference, including k past 2^res (full wrap) and the grid edges
    from pyspark.sql import functions as F

    k = data.draw(st.integers(0, (1 << res) + 2), label="k")
    disk_k = data.draw(st.integers(0, 3), label="disk_k")
    pts = data.draw(st.lists(st.tuples(_LAT, _LON), min_size=1, max_size=6), label="pts")
    lat, lon = F.col("lat"), F.col("lon")
    rows = (
        spark.createDataFrame(pts, ["lat", "lon"])
        .select(
            "lat", "lon",
            ring_cells_col(lat, lon, res, k).alias("ring"),
            ring_cells_col(lat, lon, res, disk_k, full_disk=True).alias("disk"),
            ring_guarantee_col(lat, res, k).alias("guar"),
        )
        .collect()
    )
    for row in rows:
        cell = int(latlng_to_cell(np.array([row.lat]), np.array([row.lon]), res)[0])
        assert len(row.ring) == len(set(row.ring))
        assert set(row.ring) == set(ring(cell, k).tolist()), (row.lat, row.lon)
        assert set(row.disk) == set(k_ring(cell, disk_k).tolist()), (row.lat, row.lon)
        want = ring_guarantee_m(row.lat, res, k)
        assert abs(row.guar - want) <= 1e-9 * abs(want), (row.guar, want)


def test_cell_span_reasonable():
    w, h = cell_span_m(0.0, 12)
    assert 4000 < w < 12000 and 4000 < h < 12000
    w_pole, _ = cell_span_m(89.0, 12)
    assert w_pole < w / 10


@given(
    st.floats(-170, 160),
    st.floats(-80, 70),
    st.lists(st.tuples(st.floats(0.1, 12.0), st.floats(0.1, 9.0)), min_size=3, max_size=7),
    st.integers(3, 6),
)
@settings(max_examples=60, deadline=None)
def test_polygon_cover_guarantee_random_polys(x0, y0, offsets, res):
    """Cover soundness: EVERY point inside an arbitrary simple polygon maps to
    a cell in the cover (the PIP join's no-false-negative contract)."""
    import math as _math

    import numpy as np

    from mass_georeferencing_spark.functions.cells import latlng_to_cell, polygon_to_cells
    from mass_georeferencing_spark.functions.geo import PreparedPolygon

    # build a star-shaped simple polygon around (x0, y0)
    pts = []
    for i, (r1, r2) in enumerate(offsets):
        ang = 2 * _math.pi * i / len(offsets)
        pts.append([x0 + r1 * _math.cos(ang), y0 + r2 * _math.sin(ang)])
    ring = np.array(pts + [pts[0]])
    cover = set(polygon_to_cells([ring], res).tolist())
    prep = PreparedPolygon([ring])
    # probe a grid of points; every inside point's cell must be covered
    xs = np.linspace(ring[:, 0].min(), ring[:, 0].max(), 15)
    ys = np.linspace(ring[:, 1].min(), ring[:, 1].max(), 15)
    gx, gy = np.meshgrid(xs, ys)
    gx, gy = gx.ravel(), gy.ravel()
    inside = prep.contains(gx, gy)
    if inside.any():
        cells = latlng_to_cell(gy[inside], gx[inside], res)
        assert set(cells.tolist()) <= cover
