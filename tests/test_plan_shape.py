"""Static physical-plan shape of the georeference chain (AQE off, as
tools/explain_audit.py and test_spatial_ops.py plan it): the properties the
scale design depends on, checked on every tier-1 run."""

import re

import pytest

from mass_georeferencing_spark.operators.fuzzy_join import fuzzy_candidate_join
from mass_georeferencing_spark.operators.layers import normalize_candidates
from mass_georeferencing_spark.operators.record_groups import build_record_groups
from mass_georeferencing_spark.plans.pipeline import georeference_frames
from mass_georeferencing_spark.sources import synthetic as syn

from conftest import SF_DIR

PYTHON_NODE = re.compile(r"\b(\w*(?:EvalPython|InPandas|InArrow|PythonUDTF)\w*)\b")


@pytest.fixture
def static_plan(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield lambda df: df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_fuzzy_join_broadcast_pair_generator(spark, static_plan):
    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    cands = normalize_candidates(syn.gazetteer_df(spark, SF_DIR))
    lines = static_plan(fuzzy_candidate_join(groups, cands)).splitlines()

    # Arrow batch UDFs are the only Python boundary
    assert {m for ln in lines for m in PYTHON_NODE.findall(ln)} == {"ArrowEvalPython"}

    # the pair space is generated by a broadcast join in the scoring UDF's own
    # stage: from the first (pre-threshold) fuzzy_scores node down to the
    # pair join there is no exchange
    at = max(i for i, ln in enumerate(lines) if "ArrowEvalPython [fuzzy_scores" in ln)
    below = next(
        ln for ln in lines[at + 1 :] if "Join" in ln or "Exchange" in ln
    )
    assert "BroadcastHashJoin" in below, "\n".join(lines[at:])


def test_e2e_candidate_joins_not_forced_broadcast(spark, static_plan):
    # candidate_id sides grow with the data (top-k × #groups), so their joins
    # stay AQE-decided. With AQE off an unhinted join on them plans as
    # SortMergeJoin; a BroadcastHashJoin keyed on candidate_id means an
    # F.broadcast was re-added on a growing side.
    kept = georeference_frames(
        syn.mentions_df(spark, SF_DIR),
        syn.gazetteer_df(spark, SF_DIR),
        elevation=syn.elevation_grid_df(spark, SF_DIR),
    )["kept"]
    plan = static_plan(kept)
    assert "SortMergeJoin [candidate_id" in plan
    assert "BroadcastHashJoin [candidate_id" not in plan
