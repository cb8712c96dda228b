"""Raster↔vector zonal lookups (the reference's elevation disambiguation,
batch_georeferencing/functions.py:145-230, generalized).

The "raster" is a cell-indexed value table (grid_id/cell → value) — the engine's
discrete-grid analog of a GeoTIFF; at 100 TB this is a parquet table partitioned
by coarse cell prefix. ``rasterize_points`` builds it from point samples, and
``zonal_stats`` aggregates it per polygon: polygon → covering cells → join
raster → mean/min/max/count. Cover explode is a generator; the join and agg
shuffle once each on the cell key, with map-side partial aggregation. A point's
value comes from the kNN joins (knn.py), which also cover cells with no sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from .spatial import polygon_cover


def rasterize_points(
    samples: DataFrame,
    res: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "elev_m",
) -> DataFrame:
    """Point samples → raster tile table (cell, value) at ``res``; mean per cell."""
    return (
        samples.withColumn("cell", C.latlng_to_cell_col(F.col(lat_col), F.col(lon_col), res))
        .groupBy("cell")
        .agg(F.avg(value_col).alias(value_col), F.count(F.lit(1)).alias("n_samples"))
    )


def zonal_stats(
    polygons: DataFrame,
    raster: DataFrame,
    res: int,
    wkb_col: str = "geom_wkb",
    id_col: str = "polygon_id",
    value_col: str = "elev_m",
) -> DataFrame:
    """Per-polygon aggregate of raster values over the polygon's cover cells."""
    cover = polygon_cover(polygons, wkb_col=wkb_col, id_col=id_col, res=res).drop(wkb_col)
    joined = cover.join(raster, on="cell")
    return joined.groupBy(id_col).agg(
        F.round(F.avg(value_col), 4).alias("mean_val"),
        F.min(value_col).alias("min_val"),
        F.max(value_col).alias("max_val"),
        F.count(F.lit(1)).alias("n_cells"),
    )
