"""Score banding, long-form score aggregation, threshold pruning (F9, A5-A6, J9).

Reference:
- distance→score bands (batch_georeferencing/functions.py:71-79): effective
  semantics {0:100, (0,10km]:95, (10km,50km]:85, (50km,100km]:75, else:60}
  (dead/overlapping branches at :73-77 cleaned up per SURVEY.md F9).
- elevation-diff bands (functions.py:179-185,215-221):
  {≤100:100, ≤300:90, ≤600:80, ≤1000:70, else:20}.
- long-form scores (mg_candidates_scores EAV, database/mass_georef_database.sql:330-335).
- mean score per candidate + prune below min_score (functions.py:313-346;
  default min_score=80, settings.py.template:9).

All pure JVM Column logic — whole-stage codegen, DuckDB-oracle expressible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MIN_SCORE = 80.0  # settings.py.template:9


def distance_band_score(distance_m: Column) -> Column:
    """F9: banded spatial-plausibility score (functions.py:71-79, effective)."""
    return (
        F.when(distance_m <= 0, F.lit(100))
        .when(distance_m <= 10_000, F.lit(95))
        .when(distance_m <= 50_000, F.lit(85))
        .when(distance_m <= 100_000, F.lit(75))
        .otherwise(F.lit(60))
    )


DISTANCE_BAND_SQL = (
    "CASE WHEN {d} <= 0 THEN 100 WHEN {d} <= 10000 THEN 95 WHEN {d} <= 50000 THEN 85 "
    "WHEN {d} <= 100000 THEN 75 ELSE 60 END"
)


def elevation_band_score(elev_diff_m: Column) -> Column:
    """F9: |candidate_elev - nearest_contour_elev| → score (functions.py:179-185)."""
    d = F.abs(elev_diff_m)
    return (
        F.when(d <= 100, F.lit(100))
        .when(d <= 300, F.lit(90))
        .when(d <= 600, F.lit(80))
        .when(d <= 1000, F.lit(70))
        .otherwise(F.lit(20))
    )


def melt_scores(
    candidates: DataFrame,
    id_col: str = "candidate_id",
    score_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Wide candidate scores → long-form EAV (candidate_id, score_type, score),
    the mg_candidates_scores shape (mass_georef_database.sql:330-335). Uses the
    built-in ``stack`` generator (no shuffle, no Python)."""
    score_cols = score_cols or {
        "locality.partial_ratio": "score1",      # functions.py:273
        "locality.token_set_ratio": "score2",    # functions.py:278
        "stateprovince": "score_state",          # functions.py:290
    }
    pairs = ", ".join(f"'{t}', double({c})" for t, c in score_cols.items())
    expr = f"stack({len(score_cols)}, {pairs}) as (score_type, score)"
    return candidates.select(F.col(id_col), F.expr(expr)).where(F.col("score").isNotNull())


def mean_scores(scores_long: DataFrame, id_col: str = "candidate_id") -> DataFrame:
    """A6: ROUND(AVG(score), 1) per candidate (functions.py:317)."""
    return scores_long.groupBy(id_col).agg(F.round(F.avg("score"), 1).alias("mean_score"))


def prune_low_scores(
    candidates: DataFrame,
    scores_long: DataFrame,
    id_col: str = "candidate_id",
    min_score: float = MIN_SCORE,
) -> DataFrame:
    """J9: drop candidates whose mean score is below min_score (functions.py:313-346).
    The reference DELETEs rows WHERE score IS NOT NULL AND score < threshold —
    candidates with NO scores survive, so a null mean is KEPT here too (the
    engine restates the delete as an immutable filter over a broadcast-friendly
    join on the aggregated means)."""
    means = mean_scores(scores_long, id_col)
    return (
        candidates.join(means, on=id_col, how="left")
        .where(F.col("mean_score").isNull() | (F.col("mean_score") >= F.lit(min_score)))
    )


def group_candidate_counts(
    candidates: DataFrame, groups: DataFrame, group_id_col: str = "recgroup_id"
) -> DataFrame:
    """A5: per-group candidate count, coalesce(count, 0) for empty groups
    (queries.py:600-618). Returns groups + no_candidates."""
    counts = candidates.groupBy(group_id_col).agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        groups.join(counts, on=group_id_col, how="left")
        .withColumn("no_candidates", F.coalesce(F.col("_cnt"), F.lit(0)).cast("long"))
        .drop("_cnt")
    )


def drop_empty_groups(groups_with_counts: DataFrame) -> DataFrame:
    """batch_georeferencing.py:543: DELETE recordgroups with no candidates."""
    return groups_with_counts.where(F.col("no_candidates") > 0)
