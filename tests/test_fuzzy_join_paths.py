"""Fuzzy join results equal the blocked product scored directly: the
dedup-before-score paths of J1 and J2 are physical rewrites, never semantic
ones. The blocked-product references live here, not in the package."""

from pyspark.sql import functions as F

from mass_georeferencing_spark.functions import fuzzy_batch
from mass_georeferencing_spark.operators.fuzzy_join import (
    FUZZY_SUM_THRESHOLD,
    _map_scores,
    _score_batch,
    fuzzy_candidate_join,
    fuzzy_mean_join,
)
from mass_georeferencing_spark.operators.layers import normalize_candidates
from mass_georeferencing_spark.operators.record_groups import build_record_groups
from mass_georeferencing_spark.sources import synthetic as syn

from conftest import SF_DIR


def _blocked_candidate_join(groups, cands):
    """J1 reference: score every row of the blocked product, then join the
    state scores as fuzzy_candidate_join does."""
    cols = ["mention_folded", "mention_nostop_folded", "name_folded"]
    scored = _map_scores(
        groups.join(cands, on="lang"), _score_batch, cols, ["score1", "score2"], FUZZY_SUM_THRESHOLD
    )
    states = groups.select("state").distinct().crossJoin(
        cands.select("stateprovince_folded").distinct()
    )
    sds = _map_scores(
        states, fuzzy_batch.batch_partial_ratio, ["state", "stateprovince_folded"], ["score_state"]
    )
    return scored.join(sds, on=["state", "stateprovince_folded"])


def _blocked_mean_join(groups, cands, method="partial", threshold=80.0):
    """J2 reference: both kernels on every row of the blocked product, the
    mean, then ``> threshold``."""
    kernel = {
        "partial": fuzzy_batch.batch_partial_ratio,
        "token_set": fuzzy_batch.batch_token_set_ratio,
    }[method]
    loc = _map_scores(
        groups.join(cands, on="lang"), kernel, ["mention_folded", "name_folded"], ["_sloc"]
    )
    scored = _map_scores(loc, kernel, ["state", "stateprovince_folded"], ["_sst"])
    return scored.withColumn("score", (F.col("_sloc") + F.col("_sst")) / F.lit(2.0)).where(
        F.col("score") > F.lit(threshold)
    )


def _key(r):
    return (r.recgroup_id, r.uid, r.data_source, r.score1, r.score2, r.score_state)


def test_dedup_vs_blocked_product_equal(spark):
    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    cands = normalize_candidates(syn.gazetteer_df(spark, SF_DIR))
    dedup = sorted(map(_key, fuzzy_candidate_join(groups, cands).collect()))
    blocked = sorted(map(_key, _blocked_candidate_join(groups, cands).collect()))
    assert dedup == blocked


def test_empty_sides(spark):
    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    cands = normalize_candidates(syn.gazetteer_df(spark, SF_DIR))
    no_groups = groups.where(F.lit(False))
    no_cands = cands.where(F.lit(False))
    assert fuzzy_candidate_join(no_groups, cands).count() == 0
    assert fuzzy_candidate_join(groups, no_cands).count() == 0


def test_fuzzy_mean_dedup_vs_blocked_product_equal(spark):
    # J2's dedup-before-score scale path is a pure physical rewrite of the
    # blocked product (score is a pure function of the four strings)
    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    cands = normalize_candidates(syn.gazetteer_df(spark, SF_DIR))

    def key(r):
        return (r.recgroup_id, r.uid, round(r.score, 6))

    for method in ("partial", "token_set"):
        dedup = sorted(map(key, fuzzy_mean_join(groups, cands, method=method).collect()))
        blocked = sorted(map(key, _blocked_mean_join(groups, cands, method=method).collect()))
        assert dedup == blocked
        assert len(dedup) > 0


def test_fuzzy_mean_null_text_columns_not_dropped(spark):
    # NULL name/state columns are scored as '' by the kernels in the blocked
    # product; the dedup path must keep them too (internal NULL→'' join keys),
    # never silently drop them through an equality join
    groups = spark.createDataFrame(
        [("en", "alpha bravo", None), ("en", "charlie", "delta")],
        "lang string, mention_folded string, state string",
    )
    cands = spark.createDataFrame(
        [
            ("en", "alpha bravo", None, "u1"),   # NULL province matches NULL state ('' vs '' → 100)
            ("en", None, "delta", "u2"),          # NULL name scores 0 vs any mention
            ("en", "charlie", "delta", "u3"),
        ],
        "lang string, name_folded string, stateprovince_folded string, uid string",
    )

    def key(r):
        return (r.mention_folded, r.uid, round(r.score, 6))

    a = sorted(map(key, fuzzy_mean_join(groups, cands).collect()))
    b = sorted(map(key, _blocked_mean_join(groups, cands).collect()))
    assert a == b
    # the NULL-keyed pair (alpha bravo × u1: 100 locality, ''~'' state = 100)
    # must survive in BOTH paths
    assert ("alpha bravo", "u1", 100.0) in a
    assert ("charlie", "u3", 100.0) in a
