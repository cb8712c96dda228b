"""Cell-indexed spatial joins: point-in-polygon, anti-join, distance scoring
(J3/J4/J5, F13/F14).

Reference: ``ST_INTERSECTS(d.the_geom, g.the_geom)`` in every AOI query
(batch_georeferencing/queries.py:71 et al.), extent anti-join
(batch_georeferencing/functions.py:92-141), species-range distance banding
(functions.py:16-88). PostGIS GIST indexes (database/mass_georef_database.sql:449)
are replaced by the engine's cell grid (functions/cells.py, SURVEY.md O5):

- polygons are exploded to covering cells once (a generator, no shuffle);
- points get a cell id via a pure-JVM Column expression (whole-stage codegen);
- the equi-join on cell id IS the index probe (hash-partitioned, AQE-skew-aware);
- an exact ray-cast refine runs per-partition over Arrow batches with each
  polygon's edge arrays prepared ONCE per partition ("shapely-prepared geometries
  serialized per partition" per the north rule — ours are numpy edge arrays).

Two physical strategies, chosen by the caller like a join hint:
- ``broadcast``: small polygon sets (AOIs, country outlines) ship to every
  executor; no shuffle at all on the point side.
- ``cells``: web-scale polygon sets co-partition with points on cell id.

Skew: a megacity cell is left to AQE's skew-join split. Salting the hot cell
measured slower with identical output (ROADMAP C6), so there is no salt path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from ..functions import cells as C
from ..functions.geo import PreparedPolygon, haversine_col, wkb_rings

DEFAULT_COVER_RES = 6


def with_cell(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int = C.DEFAULT_POINT_RES,
    out_col: str = "cell",
) -> Column:
    """F14: attach the tile/cell id — pure JVM expression (codegen + pushdown)."""
    return df.withColumn(out_col, C.latlng_to_cell_col(F.col(lat_col), F.col(lon_col), res))


def polygon_cover(
    polygons: DataFrame,
    wkb_col: str = "geom_wkb",
    id_col: str = "polygon_id",
    res: int = DEFAULT_COVER_RES,
) -> DataFrame:
    """Explode polygons to covering cells: (polygon_id, cell, geom_wkb)."""
    schema = StructType(
        [
            StructField(id_col, polygons.schema[id_col].dataType),
            StructField("cell", LongType()),
            StructField(wkb_col, polygons.schema[wkb_col].dataType),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, cell_ids, wkbs = [], [], []
            for pid, wkb in zip(pdf[id_col], pdf[wkb_col]):
                cover = C.polygon_to_cells(wkb_rings(bytes(wkb)), res)
                ids.extend([pid] * len(cover))
                cell_ids.extend(cover.tolist())
                wkbs.extend([wkb] * len(cover))
            yield pd.DataFrame({id_col: ids, "cell": cell_ids, wkb_col: wkbs})

    return polygons.select(id_col, wkb_col).mapInPandas(gen, schema)


def _pip_refine(
    joined: DataFrame,
    wkb_col: str,
    id_col: str,
    lat_col: str,
    lon_col: str,
) -> DataFrame:
    """Exact ray-cast refine: group rows by polygon, prepare edge arrays once per
    polygon per batch, test all points vectorized."""

    contains_schema = StructType(joined.schema.fields + [StructField("_inside", BooleanType())])

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prep_cache: dict[bytes, PreparedPolygon] = {}
        for pdf in batches:
            if not len(pdf):
                pdf["_inside"] = pd.Series([], dtype=bool)
                yield pdf
                continue
            inside = np.zeros(len(pdf), dtype=bool)
            for wkb, idx in pdf.groupby(wkb_col, sort=False).groups.items():
                key = bytes(wkb)
                prep = prep_cache.get(key)
                if prep is None:
                    prep = PreparedPolygon(wkb_rings(key))
                    prep_cache[key] = prep
                rows = pdf.loc[idx]
                inside[pdf.index.get_indexer(idx)] = prep.contains(
                    rows[lon_col].to_numpy(np.float64), rows[lat_col].to_numpy(np.float64)
                )
            pdf = pdf.copy()
            pdf["_inside"] = inside
            yield pdf

    return joined.mapInPandas(refine, contains_schema).where(F.col("_inside")).drop("_inside")


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    wkb_col: str = "geom_wkb",
    id_col: str = "polygon_id",
    res: int = DEFAULT_COVER_RES,
    strategy: str = "cells",
) -> DataFrame:
    """J3: points ⋈ polygons on containment → point columns + polygon_id.

    ``strategy='broadcast'``: cover table broadcast (small polygon sets).
    ``strategy='cells'``: shuffle equi-join on cell id (web-scale polygon sets).
    """
    pts = with_cell(points.where(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()),
                    lat_col, lon_col, res, "_cell")
    cover = polygon_cover(polygons, wkb_col, id_col, res).withColumnRenamed("cell", "_cell")
    if strategy == "broadcast":
        cover = F.broadcast(cover)
    joined = pts.join(cover, on="_cell")
    return _pip_refine(joined, wkb_col, id_col, lat_col, lon_col).drop(wkb_col, "_cell")


def pip_anti_join(
    points: DataFrame,
    polygons: DataFrame,
    keys: list[str],
    **kwargs,
) -> DataFrame:
    """J4: rows of ``points`` NOT inside any polygon (functions.py:92-141 — the
    reference DELETEs candidates outside the AOI extent; left_anti keeps the
    dataflow immutable)."""
    inside = pip_join(points, polygons, **kwargs).select(*keys).distinct()
    return points.join(inside, on=keys, how="left_anti")


def centroid_and_radius(
    polygons: DataFrame,
    wkb_col: str = "geom_wkb",
    id_col: str = "polygon_id",
) -> DataFrame:
    """F13: polygon → (centroid_lat, centroid_lon, min_bound_radius_m).

    The reference surfaces a selected polygon as centroid + minimum bounding
    radius for the uncertainty field (ui/mass_georef_shiny/leafletmap.R:239-258,
    app.R:1442). Centroid = area-weighted (shoelace) centroid of the shell
    rings; radius = max haversine distance centroid→vertex (an upper bound of
    the true min bounding radius, which is what 'uncertainty' needs)."""
    schema = (
        f"{id_col} {polygons.schema[id_col].dataType.simpleString()}, "
        "centroid_lat double, centroid_lon double, min_bound_radius_m double"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.geo import haversine_m

        for pdf in batches:
            out = []
            for pid, wkb in zip(pdf[id_col], pdf[wkb_col]):
                rings = wkb_rings(bytes(wkb))
                ring = np.asarray(rings[0], dtype=np.float64)
                x, y = ring[:-1, 0], ring[:-1, 1]
                x2, y2 = ring[1:, 0], ring[1:, 1]
                cross = x * y2 - x2 * y
                area = cross.sum() / 2.0
                if abs(area) < 1e-12:
                    cx, cy = float(x.mean()), float(y.mean())
                else:
                    cx = float(((x + x2) * cross).sum() / (6.0 * area))
                    cy = float(((y + y2) * cross).sum() / (6.0 * area))
                verts = np.vstack([r for r in rings])
                d = haversine_m(
                    np.full(len(verts), cx), np.full(len(verts), cy), verts[:, 0], verts[:, 1]
                )
                out.append((pid, cy, cx, float(d.max())))
            yield pd.DataFrame(
                out, columns=[id_col, "centroid_lat", "centroid_lon", "min_bound_radius_m"]
            )

    return polygons.select(id_col, wkb_col).mapInPandas(gen, schema)


def build_range_wkb(
    points: DataFrame,
    group_col: str = "lang",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """J5 range build: per group, the convex hull of its known points as WKB —
    the reference's species range = ST_Union(iucn) ∪ ST_ConvexHull(ST_Collect(
    gbif points)) (batch_georeferencing/functions.py:26-43), built ONCE per
    group and broadcast (the reference recomputed it per candidate row)."""
    from ..functions.geo import convex_hull, wkb_point, wkb_polygon

    grouped = points.where(F.col(lat_col).isNotNull()).select(group_col, lat_col, lon_col)
    schema = f"{group_col} string, range_wkb binary, n_points long"

    def gen(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pts = pdf[[lon_col, lat_col]].to_numpy(np.float64)
        hull = convex_hull(pts)
        if len(hull) >= 3:
            ring = np.vstack([hull, hull[:1]])
            wkb = wkb_polygon([ring])
        else:
            wkb = wkb_point(float(pts[0, 0]), float(pts[0, 1]))
        return pd.DataFrame(
            {group_col: [key[0]], "range_wkb": [wkb], "n_points": [len(pts)]}
        )

    return grouped.groupBy(group_col).applyInPandas(gen, schema)


def range_distance_scores(
    candidates: DataFrame,
    ranges: DataFrame,
    group_col: str = "lang",
    lat_col: str = "lat",
    lon_col: str = "lon",
    wkb_col: str = "range_wkb",
) -> DataFrame:
    """J5 scoring: candidate distance to its group's range geometry, banded
    (functions.py:46-79). Ranges broadcast (one small row per group); distance
    = 0 inside the hull, else min vertex/edge distance in degree space scaled
    to meters at the candidate's latitude (matches the reference's planar
    ST_Distance-in-3857 spirit without a CRS library)."""
    from ..functions.geo import EARTH_RADIUS_M
    from .scoring import distance_band_score

    joined = candidates.join(F.broadcast(ranges), on=group_col)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        prep_cache: dict[bytes, PreparedPolygon] = {}
        for pdf in batches:
            dists = np.zeros(len(pdf), dtype=np.float64)
            for wkb, idx in pdf.groupby(wkb_col, sort=False).groups.items():
                key = bytes(wkb)
                prep = prep_cache.get(key)
                if prep is None:
                    try:
                        prep = PreparedPolygon(wkb_rings(key))
                    except ValueError:  # point range (hull degenerated)
                        prep = None
                    prep_cache[key] = prep
                rows = pdf.loc[idx]
                lons = rows[lon_col].to_numpy(np.float64)
                lats = rows[lat_col].to_numpy(np.float64)
                pos = pdf.index.get_indexer(idx)
                if prep is None:
                    from ..functions.geo import decode_wkb, haversine_m

                    _, (plon, plat) = decode_wkb(key)
                    dists[pos] = haversine_m(lons, lats, np.full(len(lons), plon), np.full(len(lons), plat))
                else:
                    deg = prep.distance_deg(lons, lats)
                    m_per_deg = math.pi * EARTH_RADIUS_M / 180.0
                    dists[pos] = deg * m_per_deg * np.maximum(np.cos(np.radians(lats)), 0.2)
            pdf = pdf.copy()
            pdf["distance_m"] = dists
            yield pdf

    schema_str = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in joined.schema.fields
    )
    refined = joined.mapInPandas(
        lambda it: gen(it),
        schema_str + ", distance_m double",
    )
    return refined.withColumn("score_range", distance_band_score(F.col("distance_m"))).drop(
        wkb_col, "n_points"
    )


def distance_band_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_lat: str = "lat",
    left_lon: str = "lon",
    right_lat: str = "cand_lat",
    right_lon: str = "cand_lon",
    score_col: str = "score_spatial",
) -> DataFrame:
    """J5: equi-join then banded haversine distance score (functions.py:16-88).

    The reference round-trips one ST_Distance query PER candidate row
    (batch_georeferencing.py:524); here it's one join + a codegen'd distance
    expression — the single biggest algorithmic win over the reference
    (SURVEY.md O10). The planner picks the join strategy: a small ``right``
    plans as a broadcast hash join without a hint.
    """
    from .scoring import distance_band_score

    joined = left.join(right, on=on)
    dist = haversine_col(F.col(left_lon), F.col(left_lat), F.col(right_lon), F.col(right_lat))
    return joined.withColumn("distance_m", dist).withColumn(
        score_col, distance_band_score(F.col("distance_m"))
    )


def sign_flip_variants(
    points: DataFrame,
    id_col: str = "url",
    lat_col: str = "lat",
    lon_col: str = "lon",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """J12 leg 1 input: the four sign-flip coordinate variants per point
    (ui/mass_georef_shiny/functions.R:40-88 tries lat/lng sign combinations).
    ``extra_cols`` pass through unchanged (e.g. the claimed-polygon column the
    fallback leg gates on)."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    return points.select(
        id_col,
        *extra_cols,
        F.explode(
            F.array(
                F.struct(F.lit("as_is").alias("variant"), lat.alias(lat_col), lon.alias(lon_col)),
                F.struct(F.lit("neg_lat").alias("variant"), (-lat).alias(lat_col), lon.alias(lon_col)),
                F.struct(F.lit("neg_lon").alias("variant"), lat.alias(lat_col), (-lon).alias(lon_col)),
                F.struct(F.lit("neg_both").alias("variant"), (-lat).alias(lat_col), (-lon).alias(lon_col)),
            )
        ).alias("_v"),
    ).select(
        id_col,
        *extra_cols,
        F.col("_v.variant").alias("variant"),
        F.col(f"_v.{lat_col}").alias(lat_col),
        F.col(f"_v.{lon_col}").alias(lon_col),
    )


def signflip_knn_fallback(
    points: DataFrame,
    polygons: DataFrame,
    claimed_col: str = "claimed_polygon",
    id_col: str = "url",
    lat_col: str = "lat",
    lon_col: str = "lon",
    wkb_col: str = "geom_wkb",
    poly_id_col: str = "polygon_id",
    k: int = 5,
    res: int = 4,
) -> DataFrame:
    """J12 leg 2 — the nearest-polygon fallback that completes the sign-flip QC
    (ui/mass_georef_shiny/functions.R:40-105): when NO sign-flip variant of a
    point lands in its CLAIMED polygon (the reference checks each variant
    against the record's claimed country only — a variant landing in some
    *other* polygon does not settle the record), probe the k nearest polygon
    centroids; if one of them IS the point's claimed polygon, report it with
    the distance note ('Spatial error, distance from X: N.NNkm') exactly as
    the reference's country_nearest leg does for coastal/island points.

    Plan: variants → PIP (broadcast cover) → anti-join to the unmatched set →
    broadcast kNN against the polygon centroids (polygon sets are dimension-
    sized; route to knn_join for web-scale layers) → claimed-match filter →
    nearest survivor per point.
    """
    from pyspark.sql import Window

    from .knn import knn_join_broadcast

    landed = (
        pip_join(
            sign_flip_variants(points, id_col, lat_col, lon_col, extra_cols=(claimed_col,)),
            polygons,
            lat_col=lat_col,
            lon_col=lon_col,
            wkb_col=wkb_col,
            id_col=poly_id_col,
            res=res,
            strategy="broadcast",
        )
        .where(F.col(poly_id_col) == F.col(claimed_col))
        .select(id_col)
        .distinct()
    )
    unmatched = points.join(landed, on=id_col, how="left_anti")
    cents = centroid_and_radius(polygons, wkb_col=wkb_col, id_col=poly_id_col).select(
        F.col(poly_id_col).alias("target_id"),
        F.col("centroid_lat").alias("target_lat"),
        F.col("centroid_lon").alias("target_lon"),
    )
    nn = knn_join_broadcast(
        unmatched.withColumnRenamed(id_col, "query_id"),
        cents,
        k=k,
        lat_col=lat_col,
        lon_col=lon_col,
    )
    hits = nn.where(F.col("target_id") == F.col(claimed_col))
    w = Window.partitionBy("query_id").orderBy(F.col("knn_rank").asc())
    best = hits.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    dist_km = F.round(F.col("distance_m") / 1000.0, 2)
    return best.select(
        F.col("query_id").alias(id_col),
        F.col("target_id").alias(poly_id_col),
        dist_km.alias("distance_km"),
        F.concat(
            F.lit("Spatial error, distance from "),
            F.col("target_id"),
            F.lit(": "),
            F.format_string("%.2f", dist_km),
            F.lit("km"),
        ).alias("note"),
    )
