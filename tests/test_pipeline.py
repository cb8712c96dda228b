"""End-to-end pipeline golden tests: invariants the reference contract pins
(SURVEY.md §5): score thresholds, top-k caps, prune semantics, determinism,
byte-identical extracted text per url."""

import pytest
from pyspark.sql import functions as F

from mass_georeferencing_spark.operators.fuzzy_join import FUZZY_SUM_THRESHOLD
from mass_georeferencing_spark.operators.scoring import MIN_SCORE
from mass_georeferencing_spark.operators.topk import TOP_K
from mass_georeferencing_spark.plans.pipeline import georeference, georeference_frames
from mass_georeferencing_spark.sources import synthetic as syn

from conftest import SF_DIR


@pytest.fixture(scope="module")
def result(spark):
    return georeference(spark, SF_DIR)


def _sources(spark):
    return syn.mentions_df(spark, SF_DIR), syn.gazetteer_df(spark, SF_DIR)


def test_threshold_invariant(result):
    # functions.py:292 — every surviving pair has score1 + score2 > 140
    bad = result["top"].where(
        F.col("score1") + F.col("score2") <= FUZZY_SUM_THRESHOLD
    )
    assert bad.count() == 0


def test_topk_cap(result):
    # functions.py:298 — at most 50 candidates per record group
    over = (
        result["kept"].groupBy("recgroup_id").count().where(F.col("count") > TOP_K)
    )
    assert over.count() == 0


def test_prune_invariant(result):
    # settings.py.template:9 — every kept candidate's mean score >= 80
    bad = result["kept"].where(F.col("mean_score") < MIN_SCORE)
    assert bad.count() == 0


def test_no_empty_groups(result):
    assert result["groups_final"].where(F.col("no_candidates") <= 0).count() == 0


def test_scores_in_range(result):
    for c in ("score1", "score2", "score_state"):
        bad = result["top"].where((F.col(c) < 0) | (F.col(c) > 100))
        assert bad.count() == 0, c


def test_deterministic_rerun(spark, result):
    kept1 = sorted(
        (r.recgroup_id, r.uid, r.mean_score) for r in result["kept"].collect()
    )
    kept2 = sorted(
        (r.recgroup_id, r.uid, r.mean_score)
        for r in georeference(spark, SF_DIR)["kept"].collect()
    )
    assert kept1 == kept2


def test_extracted_text_byte_identical(spark):
    # input_hint per-row invariant: extracting the rendered page bytes wins the
    # text column back exactly for every url (html is real markup now —
    # operators/extract.py; the deeper suite lives in tests/test_extract.py)
    from mass_georeferencing_spark.operators.extract import extract_text_col

    pages = syn.pages_df(spark, SF_DIR)
    bad = pages.where(extract_text_col(F.col("html")) != F.col("text"))
    assert bad.count() == 0
    assert pages.select("url").distinct().count() == pages.count()


def test_cell_assignment_valid(result):
    kept = result["kept"]
    res_bits = kept.select((F.col("cell") % 32).alias("r")).distinct().collect()
    assert {r.r for r in res_bits} == {12}


def test_range_scoring_mode(spark):
    # the reference's spatial_match flag (settings.py.template:9, J5)
    out = georeference_frames(*_sources(spark), range_scoring=True)
    kept = out["kept"]
    assert "score_range" in kept.columns
    scored = kept.where(F.col("score_range").isNotNull())
    assert scored.count() > 0
    bad = scored.where((F.col("score_range") < 60) | (F.col("score_range") > 100))
    assert bad.count() == 0


def test_elevation_scoring_mode(spark):
    # reference: elevation disambiguation J6 (functions.py:145-230)
    out = georeference_frames(*_sources(spark), elevation=syn.elevation_grid_df(spark, SF_DIR))
    kept = out["kept"]
    assert "score_elevation" in kept.columns
    scored = kept.where(F.col("score_elevation").isNotNull())
    assert scored.count() > 0
    bad = scored.where((F.col("score_elevation") < 20) | (F.col("score_elevation") > 100))
    assert bad.count() == 0
    # the elevation score participates in the mean (EAV long-form)
    types = {r.score_type for r in out["scores_long"].select("score_type").distinct().collect()}
    assert "elevation" in types


def test_prune_keeps_unscored_candidates(spark):
    # reference delete_lowscore: DELETE ... WHERE score IS NOT NULL AND
    # score < threshold — a candidate with NO scores at all survives
    from pyspark.sql import functions as F

    from mass_georeferencing_spark.operators.scoring import prune_low_scores

    cands = spark.createDataFrame(
        [("c_low",), ("c_high",), ("c_unscored",)], ["candidate_id"]
    )
    scores = spark.createDataFrame(
        [("c_low", "s", 10.0), ("c_high", "s", 95.0)],
        ["candidate_id", "score_type", "score"],
    )
    kept = {r.candidate_id for r in prune_low_scores(cands, scores, min_score=80.0).collect()}
    assert kept == {"c_high", "c_unscored"}

