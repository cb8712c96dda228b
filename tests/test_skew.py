"""Skew: a hot cell (megacity) must not change what the cell PIP join
returns."""

import numpy as np

from mass_georeferencing_spark.functions.geo import wkb_polygon
from mass_georeferencing_spark.operators.spatial import pip_join


def _rect_wkb(min_lon, min_lat, max_lon, max_lat):
    ring = np.array(
        [
            [min_lon, min_lat],
            [max_lon, min_lat],
            [max_lon, max_lat],
            [min_lon, max_lat],
            [min_lon, min_lat],
        ]
    )
    return wkb_polygon([ring])


def test_hot_cell_pip_join_matches_rect_truth(spark):
    # megacity skew: 500 points piled into one cell + scattered points
    rows = [(i, 10.1 + (i % 7) * 1e-4, 20.1 + (i % 5) * 1e-4) for i in range(500)]
    rows += [(1000 + i, float((i * 37) % 170 - 85) + 0.5, float((i * 53) % 360 - 180) + 0.5) for i in range(100)]
    pts = spark.createDataFrame(rows, ["pid", "lat", "lon"])
    rects = {"p0": (0, 0, 60, 45), "p1": (-120, -60, -20, 10)}
    polys = spark.createDataFrame(
        [(pid, bytearray(_rect_wkb(*r))) for pid, r in rects.items()],
        ["polygon_id", "geom_wkb"],
    )
    truth = {
        (pid, poly)
        for pid, lat, lon in rows
        for poly, (x0, y0, x1, y1) in rects.items()
        if x0 < lon < x1 and y0 < lat < y1
    }
    got = [(r.pid, r.polygon_id) for r in pip_join(pts, polys, strategy="cells", res=4).collect()]
    assert sorted(got) == sorted(truth)
    # the hot cell really is inside p0
    assert {(i, "p0") for i in range(500)} <= set(got)
