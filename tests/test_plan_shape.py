"""Static physical-plan shape of the georeference chain (AQE off, as
tools/explain_audit.py and test_spatial_ops.py plan it): the properties the
scale design depends on, checked on every tier-1 run."""

import re

import pytest

from mass_georeferencing_spark.operators.fuzzy_join import fuzzy_candidate_join, fuzzy_mean_join
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


@pytest.fixture
def fuzzy_inputs(spark):
    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    cands = normalize_candidates(syn.gazetteer_df(spark, SF_DIR))
    return groups, cands


def test_fuzzy_join_broadcast_pair_generator(static_plan, fuzzy_inputs):
    lines = static_plan(fuzzy_candidate_join(*fuzzy_inputs)).splitlines()

    # Arrow batches are the only Python boundary: the scoring passes are
    # MapInArrow, the upstream text-folding UDFs ArrowEvalPython
    assert {m for ln in lines for m in PYTHON_NODE.findall(ln)} == {
        "ArrowEvalPython",
        "MapInArrow",
    }

    # the pair space is generated by a broadcast join in the scoring pass's
    # own stage: from the pair-scoring node down to the pair join there is
    # no exchange
    at = next(i for i, ln in enumerate(lines) if "MapInArrow _score_batch(" in ln)
    below = next(
        ln for ln in lines[at + 1 :] if "Join" in ln or "Exchange" in ln
    )
    assert "BroadcastHashJoin" in below, "\n".join(lines[at:])


# a Python function call as a plan prints it: name(args)#exprId
UDF_CALL = re.compile(r"\b(\w+)\(((?:[^()]|\([^()]*\))*)\)#\d+")
KERNELS = {"_score_batch", "batch_partial_ratio", "batch_token_set_ratio"}


@pytest.mark.parametrize(
    "join, kwargs",
    [
        (fuzzy_candidate_join, {}),
        (fuzzy_mean_join, {"method": "partial"}),
        (fuzzy_mean_join, {"method": "token_set"}),
    ],
    ids=["dedup", "mean_partial", "mean_token_set"],
)
def test_fuzzy_kernels_score_each_pair_once(static_plan, fuzzy_inputs, join, kwargs):
    # a filter on a Python UDF's output (the score threshold, or an isnotnull
    # inferred from a join) pushed below its projection makes Catalyst
    # evaluate the same call twice, in two Python nodes with the same expr ids
    plan = static_plan(join(*fuzzy_inputs, **kwargs))
    nodes = [ln for ln in plan.splitlines() if PYTHON_NODE.search(ln)]
    calls = [m.group(0) for ln in nodes for m in UDF_CALL.finditer(ln)]
    assert not [c for c in set(calls) if calls.count(c) > 1], "\n".join(nodes)
    # each of the two kernels (pair or locality, and state) in exactly one
    # Python node
    scoring = [ln for ln in nodes if {m.group(1) for m in UDF_CALL.finditer(ln)} & KERNELS]
    assert len(scoring) == 2, "\n".join(nodes)


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
