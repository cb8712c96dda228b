"""Tile pyramid + adaptive-splitting invariants."""

from pyspark.sql import functions as F

from mass_georeferencing_spark.functions import cells as C
from mass_georeferencing_spark.operators.tiles import adaptive_cells, tile_counts, tile_pyramid


def _pts(spark, n=300):
    rows = [(i, float((i * 37) % 170 - 85) + 0.5, float((i * 53) % 360 - 180) + 0.5) for i in range(n)]
    return spark.createDataFrame(rows, ["pid", "lat", "lon"])


def test_pyramid_counts_conserved(spark):
    pts = _pts(spark)
    pyr = tile_pyramid(pts, [10, 6, 2]).collect()
    by_res = {}
    for r in pyr:
        by_res.setdefault(r.res, 0)
        by_res[r.res] += r.n
    assert by_res == {10: 300, 6: 300, 2: 300}  # every level partitions all points


def test_rollup_matches_direct_aggregation(spark):
    pts = _pts(spark)
    pyr = {(r.res, r.cell): r.n for r in tile_pyramid(pts, [10, 4]).collect()}
    direct = {
        (4, r.cell): r.n for r in tile_counts(pts, 4).collect()
    }
    rolled = {(res, c): n for (res, c), n in pyr.items() if res == 4}
    assert rolled == direct  # folding up == re-aggregating from raw


def test_parent_cell_contains_child_center(spark):
    pts = _pts(spark, 50)
    df = pts.select(
        C.latlng_to_cell_col(F.col("lat"), F.col("lon"), 12).alias("c12"),
        C.latlng_to_cell_col(F.col("lat"), F.col("lon"), 7).alias("c7"),
    ).withColumn("parent", C.cell_parent_col(F.col("c12"), 12, 7))
    bad = df.where(F.col("parent") != F.col("c7")).count()
    assert bad == 0


def test_adaptive_split_bounds_cells(spark):
    # skewed pile: 200 points in one res-2 cell, 50 scattered
    rows = [(i, 10.0 + (i % 9) * 0.9, 20.0 + (i % 11) * 0.9) for i in range(200)]
    rows += [(500 + i, float((i * 41) % 160 - 80) + 0.3, float((i * 59) % 350 - 175) + 0.3) for i in range(50)]
    pts = spark.createDataFrame(rows, ["pid", "lat", "lon"])
    out = adaptive_cells(pts, base_res=2, max_rows_per_cell=60, split_delta=3)
    assert out.count() == 250  # re-keying never drops rows
    sizes = out.groupBy("cell").count().collect()
    resolutions = {int(r.cell) & 31 for r in sizes}
    assert 5 in resolutions  # hot cells were split to res 2+3
    assert max(r["count"] for r in sizes) < 200  # the pile is no longer one bucket
