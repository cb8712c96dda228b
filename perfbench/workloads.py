"""The three benchmark workloads.

Each workload writes its seeded inputs once (``prepare``), then every
execution builds the plan through the package's public entry points
(``execute``) and consumes the frames named in ``outputs``. ``check`` runs
once, on the warm-up's outputs, against facts the generator knows
independently of the engine; later executions must reproduce the warm-up's
digests. ``trace_stages`` maps each stage frame, in dataflow order, to the
layer (package module) whose self time its span measures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gen


class Georef:
    """``plans.pipeline.georeference`` (the ``j1_fuzzy_flagship`` plan,
    spatial scoring on) over a fixed crawl amplified with seeded replicas."""

    name = "georef"
    outputs = ("kept", "means", "groups_final")
    trace_stages = (
        ("mentions", "sources"),
        ("groups", "record_groups"),
        ("candidates", "layers"),
        ("scored", "fuzzy_join"),
        ("top", "topk"),
        ("scores_long", "scoring"),
        ("kept", "scoring"),
        ("means", "scoring"),
        ("groups_final", "scoring"),
    )
    base_docs = 250
    factor = 4
    warmups = 1

    def prepare(self, work: str, seed: int) -> None:
        # The base crawl is fixed, as the testdata crawl would be, and the
        # seed picks the words the replicas prepend. A base crawl drawn per
        # seed moved the kept rows, and so the cost, by about ±15%.
        docs = gen.amplify(gen.base_documents(0, self.base_docs), self.factor, seed)
        self.sf_dir = os.path.join(work, "georef-sf")
        gen.write_sf_dir(self.sf_dir, docs)
        self.rows = docs.num_rows

    def execute(self, spark: SparkSession) -> dict[str, DataFrame]:
        from mass_georeferencing_spark.plans.pipeline import georeference

        return georeference(spark, self.sf_dir)

    def check(self, spark: SparkSession, frames: dict[str, DataFrame]) -> list[str]:
        from mass_georeferencing_spark.operators.scoring import MIN_SCORE

        errors = []
        kept = frames["kept"].agg(
            F.count(F.lit(1)).alias("n"), F.min("mean_score").alias("lo")
        ).first()
        if kept["n"] == 0:
            errors.append("georef: no kept candidates")
        elif kept["lo"] is not None and kept["lo"] < MIN_SCORE:
            errors.append(f"georef: kept mean_score {kept['lo']} < {MIN_SCORE}")
        per_group = frames["groups_final"].agg(F.sum("no_candidates")).first()[0] or 0
        if per_group != kept["n"]:
            errors.append(f"georef: groups count {per_group} kept rows, kept has {kept['n']}")
        return errors


class Spatial:
    """``spatial.pip_join(strategy="cells")`` of points (with one hot cell)
    against concave polygons, ``knn.knn_join`` of seeded queries against a
    jittered target grid, and ``cells.latlng_to_cell_col`` tiling."""

    name = "spatial"
    outputs = ("pip", "knn", "tiles")
    trace_stages = (
        ("pip", "spatial"),
        ("knn", "knn"),
        ("tiles", "cells"),
    )
    n_points = 50_000
    n_polygons = 100
    n_vertices = 128
    n_queries = 2_000
    knn_k = 3
    tile_res = 8
    # After one warm-up, JIT compilation still adds about half again to the
    # next execution's CPU time, and by an amount that varies from run to
    # run; a second warm-up takes most of it out of the timed execution.
    warmups = 2

    def prepare(self, work: str, seed: int) -> None:
        inp = gen.spatial_inputs(
            seed, self.n_points, self.n_polygons, self.n_vertices, self.n_queries
        )
        self.dir = os.path.join(work, "spatial")
        os.makedirs(self.dir, exist_ok=True)
        for t in ("points", "polygons", "queries", "targets"):
            pq.write_table(inp[t], os.path.join(self.dir, f"{t}.parquet"))
        self.inputs = inp
        self.rows = self.n_points

    def _read(self, spark: SparkSession, t: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.dir, f"{t}.parquet"))

    def build_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        """One output's plan. ``knn_join`` runs its ring-expansion rounds
        while it builds, so the traced run builds each stage in its span."""
        from mass_georeferencing_spark.functions.cells import latlng_to_cell_col
        from mass_georeferencing_spark.operators.knn import knn_join
        from mass_georeferencing_spark.operators.spatial import pip_join

        points = self._read(spark, "points")
        if stage == "pip":
            return pip_join(points, self._read(spark, "polygons"), strategy="cells")
        if stage == "knn":
            return knn_join(self._read(spark, "queries"), self._read(spark, "targets"), k=self.knn_k)
        if stage == "tiles":
            cell = latlng_to_cell_col(F.col("lat"), F.col("lon"), self.tile_res)
            return points.groupBy(cell.alias("cell")).agg(F.count(F.lit(1)).alias("n_points"))
        raise ValueError(f"unknown spatial stage {stage!r}")

    def execute(self, spark: SparkSession) -> dict[str, DataFrame]:
        return {stage: self.build_stage(spark, stage) for stage in self.outputs}

    def check(self, spark: SparkSession, frames: dict[str, DataFrame]) -> list[str]:
        errors = []
        pts = self.inputs["points"]
        lon = pts.column("lon").to_numpy()
        lat = pts.column("lat").to_numpy()
        expect = set()
        for i, ring in enumerate(self.inputs["rings"]):
            for p in np.nonzero(gen.ray_cast(ring, lon, lat))[0]:
                expect.add((int(p), f"poly:{i}"))
        got = {(r[0], r[1]) for r in frames["pip"].select("point_id", "polygon_id").collect()}
        if got != expect:
            errors.append(
                f"spatial: pip_join has {len(got)} pairs, ray cast {len(expect)}, "
                f"{len(got ^ expect)} differ"
            )
        tg, qs = self.inputs["targets"], self.inputs["queries"]
        d = gen.haversine_m(
            qs.column("lat").to_numpy()[:, None],
            qs.column("lon").to_numpy()[:, None],
            tg.column("target_lat").to_numpy()[None, :],
            tg.column("target_lon").to_numpy()[None, :],
        )
        kth = np.sort(d, axis=1)[:, self.knn_k - 1]
        rows = frames["knn"].groupBy("query_id").agg(F.max("distance_m").alias("d")).collect()
        got_kth = {r["query_id"]: r["d"] for r in rows}
        bad = sum(
            1 for qi, dk in enumerate(kth.tolist())
            if abs(got_kth.get(qi, -1.0) - dk) > 1e-6 * max(dk, 1.0)
        )
        if bad:
            errors.append(f"spatial: {bad} kNN queries disagree with brute force")
        n_tiles = frames["tiles"].agg(F.sum("n_points")).first()[0]
        if n_tiles != self.n_points:
            errors.append(f"spatial: tiles hold {n_tiles} points, expected {self.n_points}")
        return errors


class CorpusPrep:
    """``plans.training_prep.prepare_training_corpus`` with every optional
    stage on, over a crawl with fixed near-duplicate, repetitive and
    contaminated shares."""

    name = "corpus_prep"
    outputs = ("corpus", "dropped_buckets")
    trace_stages = (
        ("decontaminated", "decontam"),
        ("scored", "textstats"),
        ("kept", "textstats"),
        ("exact_unique", "dedup"),
        ("near_dup_pairs", "dedup"),
        ("survivors", "dedup"),
        ("dropped_buckets", "dedup"),
        ("mixed", "sampling"),
        ("corpus", "textstats"),
    )
    n_docs = 1000
    warmups = 1
    mix_rates = {"en": 0.6, "zh": 0.9, "de": 0.9, "fr": 0.9, "es": 0.9}

    def prepare(self, work: str, seed: int) -> None:
        docs, bench, self.contaminated = gen.corpus_inputs(seed, self.n_docs)
        self.docs = docs
        self.sf_dir = os.path.join(work, "corpus-sf")
        gen.write_sf_dir(self.sf_dir, docs)
        self.bench_path = os.path.join(work, "corpus-benchmark.parquet")
        pq.write_table(bench, self.bench_path)
        self.rows = docs.num_rows

    def execute(self, spark: SparkSession) -> dict[str, DataFrame]:
        from mass_georeferencing_spark.plans.training_prep import prepare_training_corpus

        return prepare_training_corpus(
            spark,
            self.sf_dir,
            benchmark=spark.read.parquet(self.bench_path),
            max_dup_line_frac=0.3,
            max_top_2gram_char_frac=0.3,
            mix_rates=self.mix_rates,
        )

    def check(self, spark: SparkSession, frames: dict[str, DataFrame]) -> list[str]:
        errors = []
        ids = [r[0] for r in frames["corpus"].select("doc_id").collect()]
        if not ids:
            errors.append("corpus_prep: empty corpus")
        if len(ids) != len(set(ids)):
            errors.append("corpus_prep: duplicate doc_id in corpus")
        leaked = self.contaminated & set(ids)
        if leaked:
            errors.append(f"corpus_prep: {len(leaked)} contaminated docs survived")
        return errors


WORKLOADS = {w.name: w for w in (Georef, Spatial, CorpusPrep)}
