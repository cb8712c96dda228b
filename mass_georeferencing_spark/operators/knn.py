"""kNN join via cell-ring expansion (J6).

Reference: nearest topo-contour point per candidate,
``ORDER BY ST_Distance(l.the_geom, r.the_geom) ASC LIMIT 1``
(batch_georeferencing/functions.py:170-171,205-207) — one SQL round-trip per row.

Engine restatement (north rule: "kNN against gazetteer points using cell-ring
expansion"): both sides are bucketed to grid cells; query points probe rings of
cells at growing Chebyshev radius. A point is *settled* once its current k-th
best distance is ≤ the guaranteed minimum distance to anything outside the probed
ring (functions/cells.py:ring_guarantee_m — conservative under the equirect grid),
so results are EXACT, verifiable against a brute-force oracle.

Physical plan per round r (no Python, one exchange of at most k rows per
query and partition):
  unsettled points → ``explode`` of ring(r) cell ids, or the whole disk in
  round 0, built as JVM Column math (functions/cells.py:ring_cells_col; the
  probe row carries lat/lon, so nothing joins back on id) → equi-join on
  cell vs the bucketed targets, whose side is spread over
  2 × defaultParallelism partitions so candidate rows are born on every core
  (NOTES lesson 1; the planner still picks the build side) → haversine
  (codegen) → ``row_number`` over (distance_m, target_id) ≤ k, planned as a
  partial WindowGroupLimit ahead of the exchange → union with the previous
  rounds' top-k, dedup (query, target), top-k again. The settle bound is a
  Column expression too (cells.ring_guarantee_col).
The loop is driver-side but each iteration is fully distributed; ~1-3 rounds
suffice when the grid resolution matches the right side's density.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions.geo import haversine_col

INITIAL_RING = 1  # round 0 probes the whole disk of this ring radius
MAX_ROUNDS = 12  # ring-expansion rounds before an unsettled query raises


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 1,
    res: int = 3,
    id_col: str = "query_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    target_id_col: str = "target_id",
    target_lat: str = "target_lat",
    target_lon: str = "target_lon",
) -> DataFrame:
    """Exact k-nearest ``targets`` per query point via ring expansion.

    Output: query columns + target_id, target_lat, target_lon, distance_m, knn_rank.
    ``targets`` must have globally unique ``target_id``.

    The first round probes the whole disk of radius ``INITIAL_RING``
    (neighbors included immediately), so typical points settle on round 2 —
    driver-side rounds carry fixed scheduling cost, so fewer, fatter rounds win.
    Pick ``res`` so cells hold ~10²-10³ targets; a too-fine grid multiplies
    rounds, a too-coarse one multiplies exact-distance evaluations (JVM, cheap).
    A query still unsettled after ``MAX_ROUNDS`` rounds (its k-th target lies
    beyond the last ring) raises instead of returning an unproven top-k.
    """
    spread = 2 * queries.sparkSession.sparkContext.defaultParallelism
    t = (
        targets.select(target_id_col, target_lat, target_lon)
        .withColumn("_cell", C.latlng_to_cell_col(F.col(target_lat), F.col(target_lon), res))
        # the side the planner streams through the _cell join is where the
        # candidate rows are born: spread it (NOTES lesson 1)
        .repartition(spread)
    )
    best: DataFrame | None = None
    unsettled = queries.select(id_col, lat_col, lon_col)

    r = INITIAL_RING
    for round_no in range(MAX_ROUNDS):
        cells = C.ring_cells_col(
            F.col(lat_col), F.col(lon_col), res, r, full_disk=(round_no == 0)
        )
        hits = (
            unsettled.select(id_col, lat_col, lon_col, F.explode(cells).alias("_cell"))
            .join(t, on="_cell")
            .select(
                id_col, lat_col, lon_col, target_id_col, target_lat, target_lon,
                haversine_col(
                    F.col(lon_col), F.col(lat_col), F.col(target_lon), F.col(target_lat)
                ).alias("distance_m"),
            )
        )
        # cut to the round's top-k before any exchange: the filtered row_number
        # plans as a partial WindowGroupLimit below the shuffle. A dedup over
        # the raw hits would block it, so (query, target) repeats — a cell in
        # two rings under antimeridian wrap — are removed after the cut
        best_new = _top_k(hits, k, id_col, target_id_col)
        if best is not None:
            pooled = best.unionByName(best_new).drop("knn_rank")
            best_new = _top_k(
                pooled.dropDuplicates([id_col, target_id_col]), k, id_col, target_id_col
            )
        best = best_new.localCheckpoint(eager=True)  # truncate the iterative lineage

        # settled: k hits found and the k-th distance ≤ the guaranteed minimum
        # distance to anything beyond ring r
        settled = best.where(
            (F.col("knn_rank") == k)
            & (F.col("distance_m") <= C.ring_guarantee_col(F.col(lat_col), res, r))
        ).select(id_col)
        unsettled = unsettled.join(settled, on=id_col, how="left_anti").localCheckpoint(eager=True)
        if unsettled.isEmpty():
            break
        r += 1
    else:
        raise RuntimeError(
            f"knn_join: {unsettled.count()} queries unsettled after MAX_ROUNDS="
            f"{MAX_ROUNDS} rounds (ring radius {r - 1} at res {res}): their k={k} "
            f"nearest targets are not proven; use a coarser res for sparse targets"
        )

    return best.join(queries, on=[id_col, lat_col, lon_col])


def _top_k(df: DataFrame, k: int, id_col: str, target_id_col: str) -> DataFrame:
    """Rows ranked 1..k per query by (distance_m, target_id), as ``knn_rank``."""
    w = Window.partitionBy(id_col).orderBy(F.col("distance_m").asc(), F.col(target_id_col).asc())
    return df.withColumn("knn_rank", F.row_number().over(w)).where(F.col("knn_rank") <= k)


def knn_join_broadcast(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 1,
    id_col: str = "query_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    target_id_col: str = "target_id",
    target_lat: str = "target_lat",
    target_lon: str = "target_lon",
    max_broadcast_targets: int = 2_000_000,
) -> DataFrame:
    """Exact kNN for SMALL target sets (≲10^6): targets broadcast once, each
    query batch computes the full (batch × targets) haversine matrix in numpy
    and takes the top-k — one map-side pass over the queries, zero shuffles.
    The right tool when the 'raster' side is a regional grid; use
    :func:`knn_join` (ring expansion) when both sides are web-scale.

    ``max_broadcast_targets`` is a fail-loud guard on the driver collect: the
    target count is probed with a bounded ``limit(n+1).count()`` (never
    materializing more than the cap) and an oversized set raises, naming the
    scale path, instead of OOMing the driver on a mis-routed call."""
    import numpy as np

    from ..functions.geo import haversine_m

    # guard and collect in ONE job: limit(cap+1) bounds the materialization,
    # len > cap proves the overflow without a separate count() pass over the
    # targets subtree
    rows = (
        targets.select(target_id_col, target_lat, target_lon)
        .limit(max_broadcast_targets + 1)
        .collect()
    )
    if len(rows) > max_broadcast_targets:
        raise ValueError(
            f"knn_join_broadcast: target set exceeds max_broadcast_targets="
            f"{max_broadcast_targets} (driver collect + per-executor broadcast "
            f"would not fit); use knn_join (cell-ring expansion) for web-scale "
            f"target sets, or raise the cap explicitly if the deployment's "
            f"driver/executor memory allows it"
        )
    t_ids = [r[target_id_col] for r in rows]
    t_lat = np.array([r[target_lat] for r in rows], dtype=np.float64)
    t_lon = np.array([r[target_lon] for r in rows], dtype=np.float64)
    sc = queries.sparkSession.sparkContext
    b = sc.broadcast((t_ids, t_lat, t_lon))
    kk = min(k, len(t_ids))

    id_type = queries.schema[id_col].dataType.simpleString()
    tid_type = targets.schema[target_id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, {target_id_col} {tid_type}, "
        f"{target_lat} double, {target_lon} double, distance_m double, knn_rank int"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, blat, blon = b.value
        ids_arr = np.asarray(ids, dtype=object)
        for pdf in batches:
            if not len(pdf):
                continue
            qlat = pdf[lat_col].to_numpy(np.float64)
            qlon = pdf[lon_col].to_numpy(np.float64)
            # (batch, targets) distance matrix, chunked rows stay cache-friendly
            d = haversine_m(
                qlon[:, None], qlat[:, None], blon[None, :], blat[None, :]
            )
            # top-k via argpartition, widened to ALL candidates tying the k-th
            # distance so boundary ties resolve by (distance, id) exactly like
            # the ring-expansion variant (argpartition alone picks the boundary
            # set by distance only, which could keep a higher id)
            if kk < len(ids):
                part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
                kth = d[np.arange(len(pdf))[:, None], part].max(axis=1)
            else:
                part = None
                kth = d.max(axis=1) if len(ids) else np.zeros(len(pdf))
            rows_out = []
            for i in range(len(pdf)):
                cand = np.flatnonzero(d[i] <= kth[i])
                # exact sort of the boundary-inclusive candidate set, same
                # (distance, id) tie-break as the ring-expansion variant
                sel = sorted(cand.tolist(), key=lambda j: (d[i, j], ids_arr[j]))[:kk]
                for rank, j in enumerate(sel, start=1):
                    rows_out.append(
                        (pdf[id_col].iloc[i], ids_arr[j], blat[j], blon[j], d[i, j], rank)
                    )
            yield pd.DataFrame(
                rows_out,
                columns=[id_col, target_id_col, target_lat, target_lon, "distance_m", "knn_rank"],
            )

    parallelism = queries.sparkSession.sparkContext.defaultParallelism
    out = (
        queries.select(id_col, lat_col, lon_col)
        # explicit spread: AQE coalesces upstream output by bytes and would run
        # the compute-heavy distance matrix on a handful of partitions
        .repartition(2 * parallelism)
        .mapInPandas(gen, schema)
    )
    return out.join(queries, on=id_col)


M_PER_DEG = math.pi * 6371008.8 / 180.0  # meridian meters per degree
POLAR_LAT = 80.0  # queries above this |lat| take the polar-cap brute pass
SLICE_MARGIN_DEG = 5.0  # the brute pass's target slice reaches this far below it


def knn_join_polar_safe(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 1,
    res: int = 3,
    id_col: str = "query_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    target_id_col: str = "target_id",
    target_lat: str = "target_lat",
    target_lon: str = "target_lon",
) -> DataFrame:
    """Exact kNN = ring expansion below ``POLAR_LAT`` + a polar-cap brute pass
    above it.

    Equirectangular cells shrink east-west toward the poles, so
    :func:`ring_guarantee_m`'s width bound collapses there and ring expansion
    needs many rounds to settle (NOTES.md round-1 item; the bound stays CORRECT,
    just loose). Queries at |lat| > POLAR_LAT instead brute-match against the
    broadcast polar slice of targets (|lat| ≥ POLAR_LAT − SLICE_MARGIN_DEG,
    per hemisphere — a tiny fraction of any real gazetteer). A result is
    provably exact when the k-th distance ≤ the meridional distance from the
    query to the slice boundary (every target outside the slice is at least
    that far); the rare unproven queries (sparse caps) fall back to ring
    expansion, so the whole operator stays exact for every input.
    """
    apolar = F.abs(F.col(lat_col))
    polar_q = queries.where(apolar > F.lit(POLAR_LAT))
    rest_q = queries.where(apolar <= F.lit(POLAR_LAT))
    out = knn_join(
        rest_q, targets, k=k, res=res, id_col=id_col, lat_col=lat_col,
        lon_col=lon_col, target_id_col=target_id_col, target_lat=target_lat,
        target_lon=target_lon,
    )
    slice_lat = POLAR_LAT - SLICE_MARGIN_DEG
    parts = []
    for sign in (1, -1):
        hemi_q = polar_q.where(F.col(lat_col) * sign > 0)
        if hemi_q.isEmpty():
            continue
        hemi_t = targets.where(F.col(target_lat) * sign >= F.lit(slice_lat))
        nn = knn_join_broadcast(
            hemi_q, hemi_t, k=k, id_col=id_col, lat_col=lat_col, lon_col=lon_col,
            target_id_col=target_id_col, target_lat=target_lat, target_lon=target_lon,
        ).localCheckpoint(eager=True)  # the isEmpty() proof probes below would
        # otherwise re-execute the whole brute subtree on final materialization
        # settle proof: k hits found AND k-th distance ≤ min distance to any
        # target outside the slice (pure-meridian haversine is exact for a
        # latitude difference)
        bound = (F.abs(F.col(lat_col)) - F.lit(slice_lat)) * F.lit(M_PER_DEG)
        stats = nn.groupBy(id_col).agg(
            F.max("distance_m").alias("_kth"), F.count(F.lit(1)).alias("_n")
        )
        proved = (
            nn.join(stats, on=id_col)
            .where((F.col("_n") >= F.lit(k)) & (F.col("_kth") <= bound))
            .drop("_kth", "_n")
        )
        unproved = hemi_q.join(
            proved.select(id_col).distinct(), on=id_col, how="left_anti"
        )
        parts.append(proved)
        if not unproved.isEmpty():
            parts.append(
                knn_join(
                    unproved, targets, k=k, res=res, id_col=id_col, lat_col=lat_col,
                    lon_col=lon_col, target_id_col=target_id_col,
                    target_lat=target_lat, target_lon=target_lon,
                )
            )
    for p in parts:
        out = out.unionByName(p.select(*out.columns))
    return out
