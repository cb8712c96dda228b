"""Static physical-plan shape (AQE off, so the plan shows its codegen spans
and join strategies before execution): the properties the scale design
depends on — pushdown and pruning at the scan, broadcast dimension joins,
codegen'd relational stages, Python only at the designed Arrow boundaries,
and each Python kernel evaluated once — checked on every tier-1 run."""

import re

import pytest
from pyspark.sql import functions as F

from mass_georeferencing_spark.operators.fuzzy_join import fuzzy_candidate_join, fuzzy_mean_join
from mass_georeferencing_spark.operators.layers import normalize_candidates
from mass_georeferencing_spark.operators.record_groups import build_record_groups
from mass_georeferencing_spark.plans.contract_ext import queries_ext
from mass_georeferencing_spark.plans.pipeline import georeference, georeference_frames
from mass_georeferencing_spark.sources import synthetic as syn
from mass_georeferencing_spark.sources.tables import load_table

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

    # the scoring passes are the only Python boundary: the text folding
    # upstream of them is JVM Column expressions
    assert {m for ln in lines for m in PYTHON_NODE.findall(ln)} == {"MapInArrow"}

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


def test_georef_python_only_in_scoring(spark, static_plan):
    # the georeference dataflow crosses into Python only to score: the record
    # groups and the candidates (stopword strip, ASCII fold) are pure JVM, and
    # every Python node under `kept` is one of the two scoring MapInArrow passes
    frames = georeference(spark, SF_DIR)
    try:
        for name in ("groups", "candidates"):
            plan = static_plan(frames[name])
            assert not PYTHON_NODE.search(plan), f"{name}:\n{plan}"
        nodes = [ln for ln in static_plan(frames["kept"]).splitlines() if PYTHON_NODE.search(ln)]
        assert nodes, "no scoring pass in the kept plan"
        for ln in nodes:
            assert PYTHON_NODE.findall(ln) == ["MapInArrow"], "\n".join(nodes)
            kernels = {m.group(1) for m in UDF_CALL.finditer(ln)}
            assert kernels and kernels <= {"_score_batch", "batch_partial_ratio"}, "\n".join(nodes)
    finally:
        for name in ("groups", "candidates", "top"):
            frames[name].unpersist()


# the refine node and the attributes it returns: "MapInArrow refine(in)#id, [out]"
REFINE_NODE = re.compile(r"(MapIn\w+) refine\(.*\)#\d+, \[([^\]]*)\]")


@pytest.mark.parametrize("strategy", ["broadcast", "cells"])
def test_pip_refine_returns_only_kept_points(spark, static_plan, strategy):
    # the PIP refine is one Arrow pass that filters in Python and drops the
    # polygon WKB there: no pandas node, no Filter on an `_inside` flag above
    # the refine, and no geom_wkb among the attributes it returns to the JVM
    from mass_georeferencing_spark.functions.geo import wkb_polygon
    from mass_georeferencing_spark.operators.spatial import pip_join

    ring = [[-60.0, -30.0], [40.0, -30.0], [40.0, 45.0], [-60.0, 45.0], [-60.0, -30.0]]
    polys = spark.createDataFrame(
        [("p0", bytearray(wkb_polygon([ring])))], "polygon_id string, geom_wkb binary"
    )
    plan = static_plan(pip_join(_located_mentions(spark), polys, strategy=strategy, res=4))
    lines = plan.splitlines()
    assert "MapInPandas" not in plan, plan
    at, node = next((i, m) for i, ln in enumerate(lines) if (m := REFINE_NODE.search(ln)))
    assert node.group(1) == "MapInArrow", plan
    assert not [ln for ln in lines[:at] if "Filter" in ln and "_inside" in ln], plan
    returned = node.group(2).split(", ")
    assert "polygon_id" in {a.split("#")[0] for a in returned}, plan
    assert "geom_wkb" not in {a.split("#")[0] for a in returned}, plan


@pytest.mark.parametrize(
    "row, kernel", [("dedup_minhash_pairs", "jacc"), ("ann_ivf_topk", "nearest")]
)
def test_corpus_kernels_score_each_row_once(spark, static_plan, row, kernel):
    # the same lesson-9 defect outside the fuzzy join: a filter on a Python
    # kernel's output (the Jaccard threshold, or an isnotnull inferred from
    # the join on the assigned centroid) must not duplicate its node. (The
    # plan prints a persisted subtree once per reader, so only the kernel's
    # own node count is pinned.)
    plan = static_plan(queries_ext()[row](spark, SF_DIR))
    nodes = [ln for ln in plan.splitlines() if PYTHON_NODE.search(ln)]
    scoring = [ln for ln in nodes if kernel in {m.group(1) for m in UDF_CALL.finditer(ln)}]
    assert len(scoring) == 1, "\n".join(nodes)


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


# plan properties, as they print in a static executed plan
PLAN_HAS = {
    "pushdown": re.compile(r"PushedFilters: \[[^\]]*(?:IsNotNull|EqualTo)"),
    "pruned_scan": re.compile(r"ReadSchema: [^\n]*struct<[^>]{0,200}>"),
    "broadcast_join": re.compile(r"BroadcastHashJoin"),
    "codegen": re.compile(r"\*\(\d+\) "),
    "python": PYTHON_NODE,
    "exchange": re.compile(r"Exchange"),
    "shuffle": re.compile(r"(?<!Broadcast)Exchange"),
}


def _filtered_scan(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return docs.where(F.col("lang") == "en").select("doc_id", "lang")


def _dim_join(spark):
    nation = load_table(spark, SF_DIR, "nation")
    region = load_table(spark, SF_DIR, "region")
    return nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)


def _located_mentions(spark):
    return syn.mentions_df(spark, SF_DIR).where(F.col("lat").isNotNull())


def _pip_join(spark):
    from mass_georeferencing_spark.operators.spatial import pip_join

    aoi = syn.aoi_wkb_df(spark, SF_DIR)
    return pip_join(_located_mentions(spark), aoi, strategy="broadcast", res=4)


def _cell_assign(spark):
    from mass_georeferencing_spark.functions.cells import latlng_to_cell_col

    return _located_mentions(spark).select(
        latlng_to_cell_col(F.col("lat"), F.col("lon"), 12).alias("cell")
    )


def _gadm_aliases(spark):
    from mass_georeferencing_spark.operators.layers import gadm_alias_names

    return gadm_alias_names(syn.gadm_df(spark, SF_DIR), syn.state_abbreviations_df(spark))


def _j12_knn_fallback(spark):
    from mass_georeferencing_spark.operators.spatial import signflip_knn_fallback

    pts = (
        _located_mentions(spark)
        .dropDuplicates(["url"])
        .select("url", "lat", "lon")
        .withColumn("claimed_polygon", F.lit("aoi:0"))
    )
    return signflip_knn_fallback(pts, syn.aoi_wkb_df(spark, SF_DIR), k=3)


def _training_prep(spark):
    from mass_georeferencing_spark.plans.training_prep import prepare_training_corpus

    return prepare_training_corpus(spark, SF_DIR)["corpus"]


def _html_extract(spark):
    from mass_georeferencing_spark.operators.extract import extract_text_col

    pages = syn.pages_df(spark, SF_DIR)
    return pages.select("url", extract_text_col(F.col("html")).alias("extracted"))


def _fuzzy_mean_dedup(spark):
    groups = build_record_groups(syn.mentions_df(spark, SF_DIR))
    return fuzzy_mean_join(groups, normalize_candidates(syn.gazetteer_df(spark, SF_DIR)))


def _j5_distance_band(spark):
    import __spark_entry__

    return __spark_entry__._q_j5_distance_band(spark, SF_DIR)


def _f7_countrycode(spark):
    from mass_georeferencing_spark.operators.countrycode import normalize_country_codes

    return normalize_country_codes(
        syn.occ_country_df(spark, SF_DIR), syn.countries_df(spark, SF_DIR)
    )


PLAN_CASES = [
    # filters and the projection reach the parquet scan
    (_filtered_scan, ["pushdown", "pruned_scan", "codegen"], []),
    (_dim_join, ["broadcast_join", "codegen"], []),
    # the cover table is broadcast; the ray-cast refine is the Arrow pass
    (_pip_join, ["broadcast_join", "python"], []),
    # cell ids are JVM Column math
    (_cell_assign, [], ["python"]),
    # projections, generators and one broadcast abbreviation join
    (_gadm_aliases, ["broadcast_join", "codegen"], ["python"]),
    # the PIP refine and the broadcast-kNN matrix are the Arrow passes
    (_j12_knn_fallback, ["python", "codegen"], []),
    # quality filters are codegen; lang-ID and minhash the Arrow passes
    (_training_prep, ["pruned_scan", "python", "codegen"], []),
    # one codegen'd regexp chain over the scan: scan-bound, no shuffle
    (_html_extract, ["pruned_scan", "codegen"], ["python", "exchange"]),
    # both kernels on distinct pairs, score maps broadcast back
    (_fuzzy_mean_dedup, ["broadcast_join", "python", "codegen"], []),
    # the planner broadcasts the small side of the J5 join without a hint
    (_j5_distance_band, ["broadcast_join", "codegen"], ["python", "shuffle"]),
    # dim lookups and the verbatim map are broadcast joins, no Python
    (_f7_countrycode, ["broadcast_join", "codegen"], ["python"]),
]


@pytest.mark.parametrize(
    "build, present, absent", PLAN_CASES, ids=[c[0].__name__.lstrip("_") for c in PLAN_CASES]
)
def test_plan_properties(spark, static_plan, build, present, absent):
    plan = static_plan(build(spark))
    assert [p for p in present if not PLAN_HAS[p].search(plan)] == [], plan
    assert [p for p in absent if PLAN_HAS[p].search(plan)] == [], plan
