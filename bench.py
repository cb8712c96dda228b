"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], print ONE JSON line.

The pages table derived from documents is small even at sf0.1 (~5k rows), so the
bench deterministically AMPLIFIES it (crossJoin with a replica index, pure-JVM
text mutation — no external data, fully reproducible) to a workload where
shuffle/UDF/parallelism behavior dominates, which is what the 100 TB design must
demonstrate. Factors via SPARK_GRAFT_BENCH_FACTOR (pages) and
SPARK_GRAFT_BENCH_GAZ_FACTOR (gazetteer).

``georeference_e2e`` runs ``plans.pipeline.georeference_frames`` — the
``j1_fuzzy_flagship`` plan, spatial scoring included — over the amplified
sources. Rounds r1–r5 timed a hand copy without spatial scoring, so their
georeference_e2e numbers are not comparable with later ones.

Timing uses the noop sink: full plan execution, no driver collect.
Env: SPARK_GRAFT_BENCH_ONLY=name1,name2 restricts the suite (used by
tools/scale_bench.py for the N-vs-4N scaling-efficiency evidence).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mass_georeferencing_spark.session import get_spark
from mass_georeferencing_spark.sources import synthetic as syn

def _noop(df: DataFrame) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def build_suite(spark: SparkSession, sf_dir: str):
    from mass_georeferencing_spark.operators import dedup, similarity
    from mass_georeferencing_spark.operators.spatial import pip_join
    from mass_georeferencing_spark.plans.pipeline import georeference_frames

    pfactor = int(os.environ.get("SPARK_GRAFT_BENCH_FACTOR", "8"))
    gfactor = int(os.environ.get("SPARK_GRAFT_BENCH_GAZ_FACTOR", "2"))

    pages = syn.amplified_pages(spark, sf_dir, pfactor)
    mentions = syn.mentions_from_pages(pages)
    gaz = syn.amplified_gazetteer(spark, sf_dir, gfactor)
    n_pages = pages.count()  # warms the file listing too

    def georeference_e2e():
        return georeference_frames(mentions, gaz)["kept"]

    def pip_cells():
        pts = mentions.where(F.col("lat").isNotNull())
        aoi = syn.aoi_wkb_df(spark, sf_dir)
        return pip_join(pts, aoi, strategy="cells", res=5)

    def knn_elev():
        # strategy choice mirrors production: the elevation grid is a SMALL
        # target set (10^4-10^6), so the broadcast-brute variant wins (zero
        # shuffles); the ring-expansion variant is for web-scale targets and is
        # contract+oracle-verified at sf0.01 (j6_knn_elevation)
        from mass_georeferencing_spark.operators.knn import knn_join_broadcast

        q = (
            mentions.where(F.col("lat").isNotNull())
            .dropDuplicates(["url"])
            .select(F.col("url").alias("query_id"), "lat", "lon")
        )
        elev = syn.elevation_grid_df(spark, sf_dir).select(
            F.col("grid_id").alias("target_id"),
            F.col("lat").alias("target_lat"),
            F.col("lon").alias("target_lon"),
        )
        return knn_join_broadcast(q, elev, k=1)

    def dedup_minhash():
        docs = pages.select(F.col("doc_id"), F.col("text"))
        return dedup.minhash_candidate_pairs(docs)

    def ann_brute():
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        qs = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
        return similarity.brute_force_topk(qs, emb, k=10)

    def relational_core():
        lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        return (
            lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
                F.avg("l_discount").alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    return n_pages, {
        "georeference_e2e": georeference_e2e,
        "pip_join_cells": pip_cells,
        "knn_elevation": knn_elev,
        "dedup_minhash": dedup_minhash,
        "ann_brute_topk": ann_brute,
        "relational_core": relational_core,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only_set = set(only.split(",")) if only else None

    n_pages, suite = build_suite(spark, sf_dir)
    # Steady-state protocol: one untimed warmup execution per query, then the
    # timed run. The warmup absorbs once-per-plan costs that a long-running
    # engine does not pay per query — Python-worker spawn (measured ~0.2-0.6s
    # PER WORKER on this sandbox's VM, a 32-worker storm on first UDF stage),
    # whole-stage-codegen JIT, parquet footer reads, broadcast builds. Those
    # costs are still REPORTED (cold_queries / cold_wall) so nothing is
    # hidden; `value` is the steady-state suite wall. Disable with
    # SPARK_GRAFT_BENCH_WARMUP=0 to reproduce the round-1/2 cold protocol.
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    # Median-of-N steady-state (default 5): this VM shows up to ~2x
    # run-to-run variance at local[32], so single samples carry that bar —
    # every sample is published alongside the median (VERDICT r3 #5).
    # WARMUP=0 reproduces the round-1/2 single-run cold protocol exactly.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5")) if warmup else 1
    if repeats < 1:
        raise ValueError(
            f"SPARK_GRAFT_BENCH_REPEATS={repeats}: a benchmark with zero timed "
            f"runs would publish value=0.0 — fail loud instead"
        )
    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name, builder in suite.items():
        if only_set and name not in only_set:
            continue
        if warmup:
            t0 = time.time()
            _noop(builder())
            cold[name] = round(time.time() - t0, 3)
            # Spark's CacheManager resolves .persist() by canonicalized plan,
            # so a second build of the same query would silently read the
            # warmup's cached intermediates instead of re-executing. Clear it:
            # the timed run must do ALL the work, only the workers/JIT stay warm.
            spark.catalog.clearCache()
        runs: list[float] = []
        for _ in range(repeats):
            t0 = time.time()
            _noop(builder())
            runs.append(round(time.time() - t0, 3))
            if warmup:
                # not under WARMUP=0: the round-1/2 cold protocol let persisted
                # intermediates stay resident across suite queries — keep that
                # reproduction exact
                spark.catalog.clearCache()
        samples[name] = runs
        timings[name] = sorted(runs)[len(runs) // 2] if len(runs) % 2 else round(
            sum(sorted(runs)[len(runs) // 2 - 1 : len(runs) // 2 + 1]) / 2, 3
        )

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "georeference_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        "n_pages": n_pages,
        "pages_per_sec": round(n_pages / timings["georeference_e2e"], 1)
        if "georeference_e2e" in timings and timings["georeference_e2e"] > 0
        else None,
    }
    if warmup:
        result["protocol"] = f"steady_state_median_of_{repeats}_after_1_warmup"
        result["repeats"] = repeats
        result["query_samples"] = samples
        result["cold_queries"] = cold
        result["cold_wall"] = round(sum(cold.values()), 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
