"""Spatial operator tests: PIP join vs bbox truth, anti-join, kNN vs brute force,
zonal stats, banding monotonicity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mass_georeferencing_spark.functions.geo import haversine_m, wkb_polygon
from mass_georeferencing_spark.operators import zonal
from mass_georeferencing_spark.operators.knn import knn_join
from mass_georeferencing_spark.operators.scoring import (
    distance_band_score,
    elevation_band_score,
)
from mass_georeferencing_spark.operators.spatial import pip_anti_join, pip_join


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


@pytest.fixture(scope="module")
def points(spark):
    rows = [(i, float((i * 37) % 170 - 85) + 0.5, float((i * 53) % 360 - 180) + 0.5) for i in range(200)]
    return spark.createDataFrame(rows, ["pid", "lat", "lon"])


def test_pip_join_matches_bbox_truth(spark, points):
    polys = spark.createDataFrame(
        [("p0", bytearray(_rect_wkb(-60, -30, 40, 45))), ("p1", bytearray(_rect_wkb(100, 10, 170, 80)))],
        ["polygon_id", "geom_wkb"],
    )
    for strategy in ("broadcast", "cells"):
        got = {
            (r.pid, r.polygon_id)
            for r in pip_join(points, polys, strategy=strategy, res=4).collect()
        }
        want = set()
        for r in points.collect():
            if -60 < r.lon < 40 and -30 < r.lat < 45:
                want.add((r.pid, "p0"))
            if 100 < r.lon < 170 and 10 < r.lat < 80:
                want.add((r.pid, "p1"))
        assert got == want, strategy


def test_pip_anti_join_complement(spark, points):
    polys = spark.createDataFrame(
        [("p0", bytearray(_rect_wkb(-60, -30, 40, 45)))], ["polygon_id", "geom_wkb"]
    )
    inside = {r.pid for r in pip_join(points, polys, strategy="broadcast", res=4).collect()}
    outside = {r.pid for r in pip_anti_join(points, polys, keys=["pid"], strategy="broadcast", res=4).collect()}
    allp = {r.pid for r in points.collect()}
    assert inside | outside == allp
    assert inside & outside == set()


def test_knn_join_exact_vs_brute(spark):
    qrows = [(f"q{i}", float((i * 41) % 160 - 80) + 0.3, float((i * 59) % 350 - 175) + 0.3) for i in range(40)]
    trows = [(f"t{j}", float((j * 23) % 160 - 80) + 0.7, float((j * 71) % 350 - 175) + 0.7) for j in range(60)]
    q = spark.createDataFrame(qrows, ["query_id", "lat", "lon"])
    t = spark.createDataFrame(
        trows, ["target_id", "target_lat", "target_lon"]
    )
    out = knn_join(q, t, k=2, res=2).collect()
    # brute force in numpy
    qa = np.array([(r[1], r[2]) for r in qrows])
    ta = np.array([(r[1], r[2]) for r in trows])
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.knn_rank, r.target_id, r.distance_m))
    assert len(got) == len(qrows)
    for i, (qid, qlat, qlon) in enumerate(qrows):
        d = haversine_m(
            np.full(len(ta), qlon), np.full(len(ta), qlat), ta[:, 1], ta[:, 0]
        )
        order = np.lexsort((np.arange(len(ta)), d))
        want = [trows[j][0] for j in order[:2]]
        have = [tid for _, tid, _ in sorted(got[qid])]
        assert have == want, (qid, have, want)


def _knn_edge_fixture():
    # targets: distinct points plus exact duplicates of some of them (distance
    # ties that target_id must break); queries: the antimeridian and the caps
    rng = np.random.RandomState(11)
    base = [(float(rng.uniform(-85, 85)), float(rng.uniform(-180, 180))) for _ in range(30)]
    base += [(0.5, 179.9), (-1.0, -179.8), (84.0, 178.0), (-83.0, -175.0)]
    coords = base + [base[j] for j in (0, 3, 30, 31, 32, 32)]
    trows = [(f"t{j:03d}", lat, lon) for j, (lat, lon) in enumerate(coords)]
    qrows = [
        ("q_east", 0.2, 179.999), ("q_west", -0.3, -179.999), ("q_180", 10.0, 180.0),
        ("q_m180", -10.0, -180.0), ("q_n", 85.5, 120.0), ("q_s", -88.0, -60.0),
        ("q_n_am", 81.0, -179.5), ("q_pole", 90.0, 0.0), ("q_dup", base[0][0], base[0][1]),
    ]
    return qrows, trows


@pytest.mark.parametrize("res", [2, 3])
def test_knn_join_exact_on_edge_fixture(spark, res):
    from mass_georeferencing_spark.operators.knn import knn_join_broadcast

    qrows, trows = _knn_edge_fixture()
    q = spark.createDataFrame(qrows, ["query_id", "lat", "lon"])
    t = spark.createDataFrame(trows, ["target_id", "target_lat", "target_lon"])
    k = 3
    got = {
        (r.query_id, r.knn_rank): (r.target_id, r.distance_m)
        for r in knn_join(q, t, k=k, res=res).collect()
    }
    tlat = np.array([r[1] for r in trows])
    tlon = np.array([r[2] for r in trows])
    want = {}
    for qid, qlat, qlon in qrows:
        d = haversine_m(np.full(len(trows), qlon), np.full(len(trows), qlat), tlon, tlat)
        # target ids are zero-padded in row order: the index breaks ties by id
        order = np.lexsort((np.arange(len(trows)), d))
        for rank, j in enumerate(order[:k], start=1):
            want[(qid, rank)] = (trows[j][0], d[j])
    assert {key: v[0] for key, v in got.items()} == {key: v[0] for key, v in want.items()}
    for key, (_, dist) in want.items():
        assert got[key][1] == pytest.approx(dist, rel=1e-9, abs=1e-6)
    bc = {
        (r.query_id, r.knn_rank): r.target_id
        for r in knn_join_broadcast(q, t, k=k).collect()
    }
    assert bc == {key: v[0] for key, v in got.items()}


def test_knn_join_round_plan_shape(spark, monkeypatch):
    # every checkpointed round frame is pure JVM, and the round's top-k is cut
    # by a partial WindowGroupLimit before the first exchange above the
    # distance projection (static plans: AQE off, as tests/test_plan_shape.py)
    qrows, trows = _knn_edge_fixture()
    q = spark.createDataFrame(qrows, ["query_id", "lat", "lon"])
    t = spark.createDataFrame(trows, ["target_id", "target_lat", "target_lon"])
    plans = []
    frame_cls = type(q)
    checkpoint = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        knn_join(q, t, k=3, res=3).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    round_plans = [p for p in plans if "AS distance_m" in p]
    assert len(round_plans) >= 2  # the edge fixture needs more than one round
    for plan in plans:
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    for plan in round_plans:
        lines = plan.splitlines()
        depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
        at = max(i for i, ln in enumerate(lines) if "AS distance_m" in ln)
        ancestors = []
        for i in range(at - 1, -1, -1):
            if depth[i] < depth[at if not ancestors else ancestors[-1]]:
                ancestors.append(i)
        first_exchange = next(i for i in ancestors if "Exchange" in lines[i])
        below = [lines[i] for i in ancestors if i > first_exchange]
        assert any("WindowGroupLimit" in ln and "Partial" in ln for ln in below), plan


def test_knn_join_round_cap_fails_loud(spark):
    # the only target lies ~18 res-6 cells east of the query, beyond the last
    # ring the round cap reaches: the query never settles, and an empty or
    # unproven top-k must not come back as if it were exact
    q = spark.createDataFrame([("q0", 0.0, 0.0)], ["query_id", "lat", "lon"])
    t = spark.createDataFrame([("t0", 0.0, 100.0)], ["target_id", "target_lat", "target_lon"])
    with pytest.raises(RuntimeError, match="1 queries unsettled after MAX_ROUNDS=12 rounds"):
        knn_join(q, t, k=1, res=6)


def test_zonal_stats_rect(spark):
    samples = spark.createDataFrame(
        [(i, float((i * 11) % 170 - 85) + 0.5, float((i * 7) % 360 - 180) + 0.5, float(i % 100)) for i in range(300)],
        ["sid", "lat", "lon", "elev_m"],
    )
    raster = zonal.rasterize_points(samples, res=3)
    polys = spark.createDataFrame(
        [("z0", bytearray(_rect_wkb(-170, -80, -120, -40)))], ["polygon_id", "geom_wkb"]
    )
    out = zonal.zonal_stats(polys, raster, res=3).collect()
    assert len(out) == 1
    row = out[0]
    assert row.n_cells > 0
    assert row.min_val <= row.mean_val <= row.max_val


def test_banding_monotone(spark):
    df = spark.range(1).select(
        *[distance_band_score(F.lit(float(d))).alias(f"d{i}") for i, d in enumerate([0, 5000, 30000, 80000, 200000])]
    )
    row = df.collect()[0]
    vals = [row[f"d{i}"] for i in range(5)]
    assert vals == [100, 95, 85, 75, 60]
    df2 = spark.range(1).select(
        *[elevation_band_score(F.lit(float(d))).alias(f"e{i}") for i, d in enumerate([0, -200, 500, 900, 5000])]
    )
    row2 = df2.collect()[0]
    assert [row2[f"e{i}"] for i in range(5)] == [100, 90, 80, 70, 20]


def test_knn_broadcast_oversized_targets_fail_loud(spark):
    # the driver-collect seam must raise (naming the ring-expansion scale
    # path), never OOM, when a mis-routed call hands it a web-scale target set
    import pytest

    from mass_georeferencing_spark.operators.knn import knn_join_broadcast

    q = spark.createDataFrame([("q0", 1.0, 2.0)], ["query_id", "lat", "lon"])
    t = spark.range(100).select(
        F.concat(F.lit("t"), F.col("id")).alias("target_id"),
        (F.col("id") % 90).cast("double").alias("target_lat"),
        (F.col("id") % 180).cast("double").alias("target_lon"),
    )
    with pytest.raises(ValueError, match="knn_join"):
        knn_join_broadcast(q, t, k=1, max_broadcast_targets=50)
    # under the cap the same call succeeds
    assert knn_join_broadcast(q, t, k=1, max_broadcast_targets=100).count() == 1


def test_knn_broadcast_matches_ring(spark):
    from mass_georeferencing_spark.operators.knn import knn_join_broadcast

    qrows = [(f"q{i}", float((i * 41) % 160 - 80) + 0.3, float((i * 59) % 350 - 175) + 0.3) for i in range(30)]
    trows = [(f"t{j}", float((j * 23) % 160 - 80) + 0.7, float((j * 71) % 350 - 175) + 0.7) for j in range(40)]
    q = spark.createDataFrame(qrows, ["query_id", "lat", "lon"])
    t = spark.createDataFrame(trows, ["target_id", "target_lat", "target_lon"])
    ring = {
        (r.query_id, r.knn_rank): r.target_id for r in knn_join(q, t, k=2, res=2).collect()
    }
    bc = {
        (r.query_id, r.knn_rank): r.target_id
        for r in knn_join_broadcast(q, t, k=2).collect()
    }
    assert ring == bc


def test_centroid_and_radius_rect(spark):
    from mass_georeferencing_spark.functions.geo import haversine_m
    from mass_georeferencing_spark.operators.spatial import centroid_and_radius

    polys = spark.createDataFrame(
        [("p0", bytearray(_rect_wkb(-10, -5, 10, 5)))], ["polygon_id", "geom_wkb"]
    )
    row = centroid_and_radius(polys).collect()[0]
    assert row.centroid_lat == pytest.approx(0.0, abs=1e-9)
    assert row.centroid_lon == pytest.approx(0.0, abs=1e-9)
    want = float(haversine_m(np.array([0.0]), np.array([0.0]), np.array([10.0]), np.array([5.0]))[0])
    assert row.min_bound_radius_m == pytest.approx(want, rel=1e-9)


def test_range_build_and_distance_scores(spark):
    from mass_georeferencing_spark.operators.spatial import (
        build_range_wkb,
        range_distance_scores,
    )

    # known points form a square hull per group
    pts = spark.createDataFrame(
        [("en", float(la), float(lo)) for la in (0, 10) for lo in (0, 10)]
        + [("en", 5.0, 5.0), ("de", 50.0, 50.0)],
        ["lang", "lat", "lon"],
    )
    ranges = build_range_wkb(pts)
    r = {x.lang: x for x in ranges.collect()}
    assert r["en"].n_points == 5
    assert r["de"].n_points == 1  # degenerate hull → point range

    cands = spark.createDataFrame(
        [
            ("c_in", "en", 5.0, 5.0),     # inside hull → 100
            ("c_near", "en", 5.0, 10.05), # ~5km east of hull edge → 95
            ("c_far", "en", 5.0, 60.0),   # far → 60
            ("c_de", "de", 50.0, 50.0),   # at the point range → 100
        ],
        ["uid", "lang", "lat", "lon"],
    )
    out = {x.uid: x for x in range_distance_scores(cands, ranges).collect()}
    assert out["c_in"].score_range == 100
    assert out["c_near"].score_range == 95
    assert out["c_far"].score_range == 60
    assert out["c_de"].score_range == 100


def test_knn_broadcast_boundary_tie_resolves_by_id(spark):
    # three targets exactly equidistant from the query; k=2 must keep the two
    # LOWEST ids, whichever order argpartition happened to scan them in
    q = spark.createDataFrame([("q1", 0.0, 0.0)], ["query_id", "lat", "lon"])
    t = spark.createDataFrame(
        [("t_c", 1.0, 0.0), ("t_a", -1.0, 0.0), ("t_b", 0.0, 1.0)],
        ["target_id", "target_lat", "target_lon"],
    )
    from mass_georeferencing_spark.operators.knn import knn_join_broadcast

    got = sorted(
        (r.knn_rank, r.target_id) for r in knn_join_broadcast(q, t, k=2).collect()
    )
    assert got == [(1, "t_a"), (2, "t_b")]


def test_signflip_knn_fallback_semantics(spark):
    # polygons: two unit squares around (0,0) and (50,50), plus a far one
    import numpy as np

    from mass_georeferencing_spark.functions.geo import wkb_polygon
    from mass_georeferencing_spark.operators.spatial import signflip_knn_fallback

    def rect(pid, lon0, lat0, lon1, lat1):
        ring = np.array(
            [[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1], [lon0, lat0]],
            dtype=np.float64,
        )
        return (pid, wkb_polygon([ring]))

    aoi = spark.createDataFrame(
        [rect("p_origin", -1, -1, 1, 1), rect("p_mid", 49, 49, 51, 51), rect("p_far", -179, -60, -170, -55)],
        ["polygon_id", "geom_wkb"],
    )
    pts = spark.createDataFrame(
        [
            # lands in p_origin after neg_lat flip -> NOT a fallback candidate
            ("u_landed", -0.5, 0.5, "p_origin"),
            # near p_mid, claims p_mid (nearest) -> fallback hit with distance
            ("u_near_mid", 47.0, 47.0, "p_mid"),
            # near p_mid but CLAIMS p_far, which is not among k=2 nearest -> dropped
            ("u_wrong_claim", 47.0, 47.0, "p_far"),
            # lands in p_origin (a WRONG polygon; claims p_mid) -> per
            # functions.R:40-105 the claimed-country check fails, so the
            # nearest leg still runs; p_mid IS among the k=2 nearest -> hit
            ("u_wrong_land", -0.5, 0.5, "p_mid"),
        ],
        ["url", "lat", "lon", "claimed_polygon"],
    )
    out = {r.url: r for r in signflip_knn_fallback(pts, aoi, k=2).collect()}
    assert set(out) == {"u_near_mid", "u_wrong_land"}
    assert out["u_wrong_land"].polygon_id == "p_mid"
    assert 6000 < out["u_wrong_land"].distance_km < 9000
    r = out["u_near_mid"]
    assert r.polygon_id == "p_mid"
    assert 0 < r.distance_km < 600
    assert r.note == f"Spatial error, distance from p_mid: {r.distance_km:.2f}km"


def test_knn_polar_safe_matches_brute_on_polar_fixture(spark):
    # poles-heavy queries: |lat| in [78, 89.9] both hemispheres + equator rows;
    # targets dense at the caps AND a sparse-cap case (unproved -> ring path)
    import numpy as np

    from mass_georeferencing_spark.operators.knn import knn_join_polar_safe

    rng = np.random.RandomState(7)
    q_rows = []
    for i in range(40):
        lat = float(rng.uniform(78, 89.9)) * (1 if i % 2 else -1)
        q_rows.append((f"q{i}", lat, float(rng.uniform(-180, 180))))
    for i in range(10):
        q_rows.append((f"e{i}", float(rng.uniform(-10, 10)), float(rng.uniform(-180, 180))))
    t_rows = []
    for j in range(60):
        lat = float(rng.uniform(70, 90)) * (1 if j % 2 else -1)
        t_rows.append((f"t{j}", lat, float(rng.uniform(-180, 180))))
    for j in range(40):
        t_rows.append((f"m{j}", float(rng.uniform(-60, 60)), float(rng.uniform(-180, 180))))
    q = spark.createDataFrame(q_rows, ["query_id", "lat", "lon"])
    t = spark.createDataFrame(t_rows, ["target_id", "target_lat", "target_lon"])

    got = {
        (r.query_id, r.knn_rank): r.target_id
        for r in knn_join_polar_safe(q, t, k=2, res=3).collect()
    }

    # brute-force oracle in numpy
    from mass_georeferencing_spark.functions.geo import haversine_m

    tl = np.array([(r[1], r[2]) for r in t_rows])
    want = {}
    for qid, qlat, qlon in q_rows:
        d = haversine_m(np.full(len(tl), qlon), np.full(len(tl), qlat), tl[:, 1], tl[:, 0])
        order = sorted(range(len(tl)), key=lambda j: (d[j], t_rows[j][0]))
        for rank, j in enumerate(order[:2], start=1):
            want[(qid, rank)] = t_rows[j][0]
    assert got == want


def test_knn_polar_safe_sparse_cap_falls_back_exactly(spark):
    # cap has FEWER than k targets -> settle proof fails -> ring fallback path
    from mass_georeferencing_spark.operators.knn import knn_join_polar_safe

    q = spark.createDataFrame([("q1", 85.0, 10.0)], ["query_id", "lat", "lon"])
    t = spark.createDataFrame(
        [("t_cap", 84.0, 12.0), ("t_mid", 40.0, 10.0), ("t_low", -10.0, 10.0)],
        ["target_id", "target_lat", "target_lon"],
    )
    got = sorted(
        (r.knn_rank, r.target_id)
        for r in knn_join_polar_safe(q, t, k=2, res=3).collect()
    )
    assert got == [(1, "t_cap"), (2, "t_mid")]
