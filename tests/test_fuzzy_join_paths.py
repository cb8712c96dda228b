"""Fuzzy join physical-path equivalence + edge cases: every strategy flag is a
physical rewrite, never a semantic one."""

from pyspark.sql import functions as F

from mass_georeferencing_spark.operators.fuzzy_join import fuzzy_candidate_join
from mass_georeferencing_spark.operators.layers import normalize_candidates
from mass_georeferencing_spark.operators.record_groups import build_record_groups
from mass_georeferencing_spark.sources import synthetic as syn

from conftest import SF_DIR


def _key(r):
    return (r.recgroup_id, r.uid, r.data_source, r.score1, r.score2, r.score_state)


def test_dedup_vs_blocked_product_equal(spark):
    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    cands = normalize_candidates(syn.gazetteer_df(spark, SF_DIR))
    dedup = sorted(map(_key, fuzzy_candidate_join(groups, cands, dedup_pairs=True).collect()))
    blocked = sorted(map(_key, fuzzy_candidate_join(groups, cands, dedup_pairs=False).collect()))
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
    # blocked-product baseline (score is a pure function of the four strings)
    from mass_georeferencing_spark.operators.fuzzy_join import fuzzy_mean_join

    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    cands = normalize_candidates(syn.gazetteer_df(spark, SF_DIR))

    def key(r):
        return (r.recgroup_id, r.uid, round(r.score, 6))

    for method in ("partial", "token_set"):
        dedup = sorted(
            map(key, fuzzy_mean_join(groups, cands, method=method, dedup_pairs=True).collect())
        )
        blocked = sorted(
            map(key, fuzzy_mean_join(groups, cands, method=method, dedup_pairs=False).collect())
        )
        assert dedup == blocked
        assert len(dedup) > 0


def test_fuzzy_mean_null_text_columns_not_dropped(spark):
    # NULL name/state columns are scored as '' by the kernels in the blocked
    # path; the dedup path must keep them too (internal NULL→'' join keys),
    # never silently drop them through an equality join
    from mass_georeferencing_spark.operators.fuzzy_join import fuzzy_mean_join

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

    a = sorted(map(key, fuzzy_mean_join(groups, cands, dedup_pairs=True).collect()))
    b = sorted(map(key, fuzzy_mean_join(groups, cands, dedup_pairs=False).collect()))
    assert a == b
    # the NULL-keyed pair (alpha bravo × u1: 100 locality, ''~'' state = 100)
    # must survive in BOTH paths
    assert ("alpha bravo", "u1", 100.0) in a
    assert ("charlie", "u3", 100.0) in a


def test_shuffle_dedup_path_equal(spark):
    # 'shuffle' dedup-pairs (no broadcast of the name side) is a pure physical
    # rewrite of the broadcast dedup path
    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    cands = normalize_candidates(syn.gazetteer_df(spark, SF_DIR))
    bc = sorted(map(_key, fuzzy_candidate_join(groups, cands, dedup_pairs=True).collect()))
    sh = sorted(
        map(_key, fuzzy_candidate_join(groups, cands, dedup_pairs="shuffle").collect())
    )
    assert bc == sh
