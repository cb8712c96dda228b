"""The end-to-end georeferencing dataflow (reference lifecycle §3.1 restated).

The reference's triple loop (species × country × layer,
batch_georeferencing/batch_georeferencing.py:129-499) collapses to ONE dataflow:

  pages → geoparse mentions → record groups (A1)
        → gazetteer layers normalized + unioned (P1, U1-U2, F5-F6)
        → blocked fuzzy join (J1) → filter s1+s2>140 → top-50 per group (W1)
        → spatial distance-band score (J5, vs group inline coords)
        → long-form scores (EAV) → mean per candidate (A6) → prune < 80 (J9)
        → per-group candidate counts (A5) → drop empty groups
        → tile/cell assignments (F14) for every kept candidate

This module is the only place the chain is written. :func:`georeference_frames`
takes the source frames; :func:`georeference` reads them from the synthetic
derivation, the bench and the spark-submit job pass amplified ones, and the
checkpoint runner (plans/checkpoint.py) passes a ``stage`` callable that
commits the materialized stages instead of caching them.

Shuffles: the group-by (A1), the block-key join (J1, broadcast when the gazetteer
slice is small), the pair-dedup + join-back, the top-k window (hash on
recgroup_id), and the final mean aggregation — each on a key the next stage
reuses. Everything else is narrow.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions.geo import haversine_col
from ..operators.fuzzy_join import fuzzy_candidate_join
from ..operators.layers import explode_alternate_names, normalize_candidates
from ..operators.record_groups import build_record_groups, group_id
from ..operators.scoring import (
    distance_band_score,
    drop_empty_groups,
    group_candidate_counts,
    mean_scores,
    melt_scores,
    prune_low_scores,
)
from ..operators.topk import topk_per_group
from ..sources import synthetic

# stage(name, build, upstream) -> the materialized frame of ``build()``;
# ``upstream`` names the stages the build reads
Stage = Callable[[str, Callable[[], DataFrame], list[str]], DataFrame]


def persist_stage(name: str, build: Callable[[], DataFrame], upstream: list[str]) -> DataFrame:
    """Default materialization: cache in memory. Each staged frame feeds two
    plan subtrees of one action, so without it the subtree runs twice."""
    return build().persist()


def georeference_frames(
    mentions: DataFrame,
    gazetteer: DataFrame,
    elevation: DataFrame | None = None,
    range_scoring: bool = False,
    stage: Stage = persist_stage,
) -> dict[str, DataFrame]:
    """Run the full pipeline over geoparsed ``mentions`` and the normalized
    ``gazetteer`` union (the shapes of ``sources.synthetic``).

    Passing an ``elevation`` grid (grid_id, lat, lon, elev_m) turns on
    elevation scoring. ``stage`` materializes ``groups``, ``candidates`` and
    ``top``. Returns the intermediate + final DataFrames keyed by stage name.
    """
    # both sides feed two plan subtrees each (distinct-pair build + blocked
    # join) — at scale these are the SMALL relations
    groups = stage(
        "groups", lambda: build_record_groups(mentions, coord_cols=("lat", "lon")), []
    )
    candidates = stage(
        "candidates", lambda: normalize_candidates(explode_alternate_names(gazetteer)), []
    )

    scored = fuzzy_candidate_join(groups, candidates, block_keys=["lang"]).withColumn(
        "candidate_id", group_id(F.col("recgroup_id"), F.col("uid"), F.col("data_source"))
    )

    # consumed by both the EAV melt and the prune join — without staging it
    # the fuzzy-join subtree executes twice in one action
    top = stage(
        "top",
        lambda: topk_per_group(
            scored,
            partition_cols=["recgroup_id"],
            order_cols=["score1", "score2", "score_state", "no_features"],
        ),
        ["groups", "candidates"],
    )

    dist = haversine_col(F.col("group_lon"), F.col("group_lat"), F.col("lon"), F.col("lat"))
    top = top.withColumn(
        "score_spatial",
        F.when(
            F.col("group_lat").isNotNull() & F.col("lat").isNotNull(),
            distance_band_score(dist).cast("double"),
        ),
    )
    score_cols = {
        "locality.partial_ratio": "score1",
        "locality.token_set_ratio": "score2",
        "stateprovince": "score_state",
        "locality.spatial": "score_spatial",  # functions.py:60
    }

    if elevation is not None:
        # the reference's elevation disambiguation (J6, functions.py:145-230,
        # call site commented at batch_georeferencing.py:500-513): candidate →
        # nearest elevation sample → banded |claimed − sampled| score. The grid
        # is collected and broadcast (a regional raster sample); the kNN
        # fails loud past its max_broadcast_targets guard.
        from ..operators.knn import knn_join_broadcast
        from ..operators.scoring import elevation_band_score

        elev = elevation.select(
            F.col("grid_id").alias("target_id"),
            F.col("lat").alias("target_lat"),
            F.col("lon").alias("target_lon"),
            "elev_m",
        )
        cand_pts = (
            top.select("candidate_id", F.col("lat").alias("q_lat"), F.col("lon").alias("q_lon"))
            .where(F.col("q_lat").isNotNull())
            .dropDuplicates(["candidate_id"])
        )
        nearest = knn_join_broadcast(
            cand_pts.withColumnRenamed("candidate_id", "query_id"),
            elev.drop("elev_m"),
            k=1,
            lat_col="q_lat",
            lon_col="q_lon",
        ).select(F.col("query_id").alias("candidate_id"), "target_id")
        nearest = nearest.join(elev.select("target_id", "elev_m"), on="target_id")
        # join-back is AQE-decided, NOT forced broadcast: `nearest` has one row
        # per distinct surviving candidate — a set that grows with the data
        # (top-k × #groups), unlike a dimension. AQE promotes to broadcast from
        # the measured size when it fits (same treatment as the fuzzy
        # join-backs, d104938).
        top = top.join(
            nearest.select("candidate_id", F.col("elev_m").alias("_elev")),
            on="candidate_id",
            how="left",
        ).withColumn(
            "score_elevation",
            F.when(
                F.col("_elev").isNotNull() & F.col("group_lat").isNotNull(),
                elevation_band_score(
                    (F.abs(F.col("group_lat")) * 30) - F.col("_elev")
                ).cast("double"),
            ),
        ).drop("_elev")

    if range_scoring:
        # the reference's spatial_match mode (settings.py.template, J5):
        # per-lang range = convex hull of that lang's known coordinates,
        # built once + broadcast; candidate distance to range banded
        from ..operators.spatial import build_range_wkb, range_distance_scores

        ranges = build_range_wkb(mentions.where(F.col("lat").isNotNull()))
        top = range_distance_scores(
            top.withColumnRenamed("lat", "cand_lat").withColumnRenamed("lon", "cand_lon"),
            ranges,
            lat_col="cand_lat",
            lon_col="cand_lon",
        ).withColumnRenamed("cand_lat", "lat").withColumnRenamed("cand_lon", "lon")
        score_cols["locality.range"] = "score_range"
    if elevation is not None:
        score_cols["elevation"] = "score_elevation"  # functions.py:179

    scores_long = melt_scores(top, score_cols=score_cols)
    kept = prune_low_scores(top, scores_long).withColumn(
        "cell", C.latlng_to_cell_col(F.col("lat"), F.col("lon"), C.DEFAULT_POINT_RES)
    )

    groups_with_counts = drop_empty_groups(group_candidate_counts(kept, groups))
    means = mean_scores(scores_long)

    return {
        "mentions": mentions,
        "groups": groups,
        "candidates": candidates,
        "scored": scored,
        "top": top,
        "scores_long": scores_long,
        "kept": kept,
        "means": means,
        "groups_final": groups_with_counts,
    }


def georeference(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The pipeline over the synthetic pages/gazetteer derivation of ``sf_dir``."""
    return georeference_frames(
        synthetic.mentions_df(spark, sf_dir), synthetic.gazetteer_df(spark, sf_dir)
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline query: per record group, its surviving top candidates with
    fuzzy + spatial scores and tile assignment — the engine's reason to exist."""
    kept = georeference(spark, sf_dir)["kept"]
    return kept.select(
        "recgroup_id",
        "lang",
        "mention",
        "state",
        "uid",
        "name",
        "data_source",
        "score1",
        "score2",
        "score_state",
        "mean_score",
        "no_features",
        "cell",
    )
