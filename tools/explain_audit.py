"""Physical-plan audit: print `.explain("formatted")` for the key operators and
grep for the plan properties the 100 TB design depends on:

- parquet scans show PushedFilters + pruned ReadSchema (predicate pushdown,
  column pruning reach the source);
- dimension joins are BroadcastHashJoin (no shuffle of the big side);
- relational stages sit inside WholeStageCodegen spans;
- the only Python boundaries are Arrow-batched Python nodes (ArrowEvalPython,
  MapInArrow, MapInPandas, ...) at the designed points (fuzzy scoring, PIP
  refine, cover generators).

Run: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mass_georeferencing_spark.session import get_spark
from mass_georeferencing_spark.sources import synthetic as syn
from mass_georeferencing_spark.sources.tables import load_table


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    "pushdown_filter": re.compile(r"PushedFilters: \[[^\]]*IsNotNull|PushedFilters: \[[^\]]*EqualTo"),
    "column_pruning": re.compile(r"ReadSchema: [^\n]*struct<[^>]{0,200}>"),
    "broadcast_join": re.compile(r"BroadcastHashJoin"),
    "codegen": re.compile(r"codegen id :|WholeStageCodegen"),
    # every Python plan node (same pattern as tests/test_plan_shape.py)
    "arrow_udf": re.compile(r"\b(\w*(?:EvalPython|InPandas|InArrow|PythonUDTF)\w*)\b"),
}


def audit(name: str, df, expect: list[str]) -> bool:
    plan = plan_of(df)
    ok = True
    print(f"== {name} ==")
    for check in expect:
        hit = bool(CHECKS[check].search(plan))
        print(f"  {check}: {'OK' if hit else 'MISSING'}")
        ok &= hit
    if os.environ.get("AUDIT_VERBOSE"):
        print(plan)
    return ok


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # AQE wraps plans in AdaptiveSparkPlan whose codegen ids only appear after
    # execution; audit with AQE off so the static plan shows the codegen spans
    # (production sessions keep AQE on — session.py)
    spark = get_spark(extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    ok = True

    # 1. filtered projection over parquet: pushdown + pruning
    docs = load_table(spark, sf, "documents").where(F.col("lang") == "en").select("doc_id", "lang")
    ok &= audit("filtered_scan", docs, ["pushdown_filter", "column_pruning", "codegen"])

    # 2. dimension join: broadcast, codegen
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    j = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    ok &= audit("dim_join", j, ["broadcast_join", "codegen"])

    # 3. the fuzzy join (broadcast pair generator, Arrow UDFs the only
    #    Python boundary) and 9. the e2e candidate_id join-backs (never forced
    #    broadcast) are tier-1 tests: tests/test_plan_shape.py

    # 4. cell equi-join PIP: generator + hash join on cell
    from mass_georeferencing_spark.operators.spatial import pip_join

    pts = syn.mentions_df(spark, sf).where(F.col("lat").isNotNull())
    aoi = syn.aoi_wkb_df(spark, sf)
    pip = pip_join(pts, aoi, strategy="broadcast", res=4)
    ok &= audit("pip_join", pip, ["broadcast_join", "arrow_udf"])

    # 5. cell assignment is pure JVM (NO python nodes at all)
    cells = syn.mentions_df(spark, sf).where(F.col("lat").isNotNull()).select(
        "url",
        F.expr("1").alias("x"),
    )
    from mass_georeferencing_spark.functions.cells import latlng_to_cell_col

    ca = syn.mentions_df(spark, sf).where(F.col("lat").isNotNull()).select(
        latlng_to_cell_col(F.col("lat"), F.col("lon"), 12).alias("cell")
    )
    plan = plan_of(ca)
    no_python = not CHECKS["arrow_udf"].search(plan)
    print("== cell_assign ==")
    print(f"  jvm_only: {'OK' if no_python else 'MISSING'}")
    ok &= no_python

    # 6. GADM alias expansion: pure JVM (projections + generators + one
    #    broadcast abbreviation join), no Python anywhere
    from mass_georeferencing_spark.operators.layers import gadm_alias_names

    aliases = gadm_alias_names(syn.gadm_df(spark, sf), syn.state_abbreviations_df(spark))
    ok &= audit("gadm_aliases", aliases, ["broadcast_join", "codegen"])
    plan = plan_of(aliases)
    no_python = not CHECKS["arrow_udf"].search(plan)
    print(f"  jvm_only: {'OK' if no_python else 'MISSING'}")
    ok &= no_python

    # 8. J12 kNN fallback: PIP refine + broadcast-kNN matrix are the designed
    #    Arrow points; everything else JVM
    from mass_georeferencing_spark.operators.spatial import signflip_knn_fallback

    pts12 = (
        syn.mentions_df(spark, sf)
        .where(F.col("lat").isNotNull())
        .dropDuplicates(["url"])
        .select("url", "lat", "lon")
        .withColumn("claimed_polygon", F.lit("aoi:0"))
    )
    fb = signflip_knn_fallback(pts12, aoi, k=3)
    ok &= audit("j12_knn_fallback", fb, ["arrow_udf", "codegen"])

    # 10. training-prep corpus: quality metrics/filters are JVM codegen; the
    #     only Python boundaries are the designed lang-ID ArrowEval and the
    #     minhash MapInPandas; scans keep column pruning
    from mass_georeferencing_spark.plans.training_prep import prepare_training_corpus

    corpus = prepare_training_corpus(spark, sf)["corpus"]
    ok &= audit("training_prep", corpus, ["column_pruning", "arrow_udf", "codegen"])

    # 11. html → text extraction: one codegen'd regexp chain over the scan —
    #     no Python boundary, no shuffle (the 100 TB path is scan-bound)
    from mass_georeferencing_spark.operators.extract import extract_text_col

    ext = syn.pages_df(spark, sf).select(
        "url", extract_text_col(F.col("html")).alias("extracted")
    )
    ok &= audit("html_extract", ext, ["column_pruning", "codegen"])
    plan = plan_of(ext)
    no_python = not CHECKS["arrow_udf"].search(plan)
    no_shuffle = "Exchange" not in plan
    print(f"  jvm_only: {'OK' if no_python else 'MISSING'}")
    print(f"  no_shuffle: {'OK' if no_shuffle else 'MISSING'}")
    ok &= no_python and no_shuffle

    # 12. J2 fuzzy-mean dedup path: kernels score distinct pairs only (Arrow
    #     boundaries at the two designed points), score maps broadcast back,
    #     relational glue codegen'd
    from mass_georeferencing_spark.operators.fuzzy_join import fuzzy_mean_join
    from mass_georeferencing_spark.operators.layers import normalize_candidates
    from mass_georeferencing_spark.operators.record_groups import build_record_groups

    groups = build_record_groups(syn.mentions_df(spark, sf))
    cands = normalize_candidates(syn.gazetteer_df(spark, sf))
    j2 = fuzzy_mean_join(groups, cands)
    ok &= audit("fuzzy_mean_dedup", j2, ["broadcast_join", "arrow_udf", "codegen"])

    # 13. F7 verbatim-country normalization: pure JVM (cleanup regex, split,
    #     code assembly all codegen) — dim lookups and the verbatim map are
    #     broadcast joins, zero Python boundaries
    from mass_georeferencing_spark.operators.countrycode import normalize_country_codes

    f7 = normalize_country_codes(syn.occ_country_df(spark, sf), syn.countries_df(spark, sf))
    ok &= audit("f7_countrycode", f7, ["broadcast_join", "codegen"])
    plan = plan_of(f7)
    no_python = not CHECKS["arrow_udf"].search(plan)
    print(f"  jvm_only: {'OK' if no_python else 'MISSING'}")
    ok &= no_python

    print(f"\nAUDIT {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
