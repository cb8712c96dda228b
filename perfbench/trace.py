"""The traced run: per-layer numbers, measured from outside the engine.

For its own workload the run makes one untimed warm-up, one untraced
execution (its wall time, job/stage counts and shuffle bytes), one traced
execution and a second untraced execution (its wall time). The traced
execution persists and counts each stage
frame in dataflow order, under a job group named after the stage's layer,
and records a span (name, layer, parent, start, end) around it. Each stage
is re-persisted after its parents are cached, so Spark's CacheManager makes
it read its parents from the cache and its span is its self time; a cache
the plan itself made while building (such as dedup's LSH bands) keeps the
lineage it was planned with, and its recompute lands in that stage's span.
Counts that need extra jobs (pair spaces, cover rows) run after the traced
execution, outside its wall. Python time, bytes sent to Python and shuffle
bytes per job group come from Spark's event log, read after the session
stops.

``spatial``'s traced run also traces ``corpus_prep``, whose end-to-end runs
do not fit the benchmark's time budget, so every layer is traced by one of
the workloads the benchmark runs. The companion gets only its traced
execution, on the session the spatial pipeline warmed, so its spans include
its own first-run costs. A layer the traced run does not execute reads 0.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass

from pyspark.sql import functions as F

from . import kernels
from .harness import log, run_execution, stop_session, warm_up
from .measure import digest, event_log_by_group, job_counts

# (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = (
    ("session.start_s", "s"),
    ("plans.jobs", "count"),
    ("plans.stages", "count"),
    ("plans.shuffle_bytes", "bytes"),
    ("trace.overhead_s", "s"),
    ("trace.unaccounted_s", "s"),
    ("sources.s", "s"),
    ("sources.rows_out", "count"),
    ("record_groups.s", "s"),
    ("record_groups.rows_out", "count"),
    ("layers.s", "s"),
    ("layers.rows_out", "count"),
    ("fuzzy_join.s", "s"),
    ("fuzzy_join.pairs_scored", "count"),
    ("fuzzy_join.pairs_kept", "count"),
    ("fuzzy_join.keep_ratio", "ratio"),
    ("fuzzy_join.python_s", "s"),
    ("fuzzy_join.bytes_to_python", "bytes"),
    ("fuzzy_batch.token_set_pairs_per_s", "1/s"),
    ("fuzzy_batch.partial_pairs_per_s", "1/s"),
    ("topk.s", "s"),
    ("topk.rows_out", "count"),
    ("scoring.s", "s"),
    ("scoring.rows_out", "count"),
    ("spatial.s", "s"),
    ("spatial.cover_rows", "count"),
    ("spatial.refine_rows_in", "count"),
    ("spatial.rows_out", "count"),
    ("spatial.refine_keep_ratio", "ratio"),
    ("spatial.python_s", "s"),
    ("spatial.bytes_to_python", "bytes"),
    ("geo.raycast_points_per_s", "1/s"),
    ("cells.s", "s"),
    ("cells.cover_cells_per_s", "1/s"),
    ("knn.s", "s"),
    ("knn.jobs", "count"),
    ("knn.rows_out", "count"),
    ("decontam.s", "s"),
    ("decontam.rows_dropped", "count"),
    ("textstats.s", "s"),
    ("textstats.rows_out", "count"),
    ("textstats.python_s", "s"),
    ("textstats.langid_docs_per_s", "1/s"),
    ("dedup.s", "s"),
    ("dedup.band_rows", "count"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"),
    ("dedup.verify_ratio", "ratio"),
    ("dedup.python_s", "s"),
    ("dedup.bytes_to_python", "bytes"),
    ("dedup.signature_docs_per_s", "1/s"),
    ("sampling.s", "s"),
    ("sampling.rows_out", "count"),
)

# per pipeline, the stage whose row count is a layer's rows_out
ROWS_OUT = {
    "georef": {
        "sources": "mentions",
        "record_groups": "groups",
        "layers": "candidates",
        "topk": "top",
        "scoring": "kept",
    },
    "spatial": {"spatial": "pip", "knn": "knn"},
    "corpus_prep": {"textstats": "kept", "sampling": "mixed"},
}
PYTHON_LAYERS = ("fuzzy_join", "spatial", "textstats", "dedup")
COMPANIONS = {"spatial": ("corpus_prep",)}
KERNEL_SAMPLE = 4000


@dataclass
class Span:
    name: str
    layer: str
    parent: str
    start: float
    end: float
    rows: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _traced_execution(spark, wl) -> tuple[dict, list[Span], dict]:
    """Persist and count every stage in order, one span each, then consume
    the outputs. Returns (frames, spans, output digests)."""
    sc = spark.sparkContext
    root = f"{wl.name}.traced"
    spans: list[Span] = []

    def span(name: str, layer: str, fn):
        sc.setJobGroup(f"trace:{layer}", name)
        t = time.perf_counter()
        out = fn()
        spans.append(Span(name, layer, root, t, time.perf_counter()))
        return out

    def materialize(df):
        df.unpersist()  # re-plan the cache against parents cached before it
        df.persist()
        return df, df.count()

    t0 = time.perf_counter()
    frames: dict = {}
    if hasattr(wl, "build_stage"):
        for stage, layer in wl.trace_stages:
            frames[stage], n = span(stage, layer, lambda: materialize(wl.build_stage(spark, stage)))
            spans[-1].rows = n
    else:
        frames = span("plan_build", "plans", lambda: wl.execute(spark))
        for stage, layer in wl.trace_stages:
            frames[stage], n = span(stage, layer, lambda: materialize(frames[stage]))
            spans[-1].rows = n
    got = span("consume", "plans", lambda: {k: digest(frames[k]) for k in wl.outputs})
    spans.insert(0, Span(root, wl.name, "", t0, time.perf_counter()))
    return frames, spans, got


def _georef_counts(spark, wl, frames, seed: int) -> dict[str, float]:
    groups, cands = frames["groups"], frames["candidates"]
    q_cols = ["lang", "mention_folded", "mention_nostop_folded"]
    q = groups.select(*q_cols).distinct()
    n = cands.select("lang", "name_folded").distinct()
    per_block = q.groupBy("lang").count().withColumnRenamed("count", "nq").join(
        n.groupBy("lang").count().withColumnRenamed("count", "nn"), "lang"
    )
    scored_pairs = per_block.agg(F.sum(F.col("nq") * F.col("nn"))).first()[0] or 0
    kept_pairs = frames["scored"].select(*q_cols, "name_folded").distinct().count()
    out = {
        "fuzzy_join.pairs_scored": scored_pairs,
        "fuzzy_join.pairs_kept": kept_pairs,
        "fuzzy_join.keep_ratio": _ratio(kept_pairs, scored_pairs),
    }
    sample = kernels.sample_pairs(q.toPandas(), n.toPandas(), KERNEL_SAMPLE, seed)
    out.update(kernels.fuzzy_rates(*sample))
    return out


def _corpus_counts(spark, wl, frames, seed: int) -> dict[str, float]:
    from mass_georeferencing_spark.operators.dedup import minhash_bands, minhash_candidate_pairs
    from mass_georeferencing_spark.operators.textstats import build_lang_profiles, language_id_udf

    docs = frames["exact_unique"].select("doc_id", "text")
    candidates = minhash_candidate_pairs(docs).count()
    verified = frames["near_dup_pairs"].count()
    out = {
        "decontam.rows_dropped": wl.rows - frames["decontaminated"].count(),
        "dedup.band_rows": minhash_bands(docs).count(),
        "dedup.candidate_pairs": candidates,
        "dedup.verified_pairs": verified,
        "dedup.verify_ratio": _ratio(verified, candidates),
    }
    raw = spark.read.parquet(f"{wl.sf_dir}/documents.parquet")
    lang_id = language_id_udf(build_lang_profiles(raw, max_sample=200))  # the plan's own profile size
    texts = wl.docs.column("text").to_pylist()[:500]
    out.update(kernels.corpus_rates(texts, lang_id))
    return out


def _spatial_counts(spark, wl, frames, seed: int) -> dict[str, float]:
    from mass_georeferencing_spark.operators.spatial import (
        DEFAULT_COVER_RES,
        polygon_cover,
        with_cell,
    )

    cover = polygon_cover(wl._read(spark, "polygons")).withColumnRenamed("cell", "_cell").persist()
    pts = with_cell(wl._read(spark, "points"), "lat", "lon", DEFAULT_COVER_RES, "_cell")
    refine_in = pts.join(cover, "_cell").count()
    out = {
        "spatial.cover_rows": cover.count(),
        "spatial.refine_rows_in": refine_in,
        "spatial.refine_keep_ratio": _ratio(frames["pip"].count(), refine_in),
        "knn.jobs": job_counts(spark, "trace:knn")[0],
    }
    cover.unpersist()
    pts_t = wl.inputs["points"]
    out.update(
        kernels.spatial_rates(
            wl.inputs["rings"],
            pts_t.column("lon").to_numpy(),
            pts_t.column("lat").to_numpy(),
            DEFAULT_COVER_RES,
        )
    )
    return out


LAYER_COUNTS = {"georef": _georef_counts, "corpus_prep": _corpus_counts, "spatial": _spatial_counts}


def _untraced_execution(spark, wl, group: str) -> tuple[float, dict]:
    t = time.perf_counter()
    got = run_execution(spark, wl, group)[1]
    wall = time.perf_counter() - t
    spark.catalog.clearCache()
    log(f"{wl.name}: untraced {wall:.3f}s")
    return wall, got


def _trace_pipeline(spark, wl, seed: int, own: bool) -> dict:
    """The traced run's own workload gets a warm-up, then an untraced, the
    traced and another untraced execution; each must reproduce the warm-up's
    digests. Execution times still fall over the first executions after the
    warm-up, so the overhead compares the traced execution with the mean of
    the untraced ones around it. A companion gets the traced execution
    alone, on the already warm session, and its outputs are checked against
    the generator's facts instead."""
    out = {"attempted": 1, "failed": 0}
    if own:
        ref = warm_up(spark, wl, f"warmup:{wl.name}")
        group = f"untraced:{wl.name}"
        before, got = _untraced_execution(spark, wl, group)
        out["plans"] = job_counts(spark, group)
        out["attempted"] += 1
        out["failed"] += got != ref
    frames, out["spans"], got = _traced_execution(spark, wl)
    if own:
        out["failed"] += got != ref
    else:
        errors = wl.check(spark, frames)
        out["failed"] += bool(errors)
        for e in errors:
            log(e)
    out["counts"] = LAYER_COUNTS[wl.name](spark, wl, frames, seed)
    spark.catalog.clearCache()
    log(f"{wl.name}: traced {out['spans'][0].seconds:.3f}s, {out['failed']} failed")
    if own:
        after, got = _untraced_execution(spark, wl, f"untraced-after:{wl.name}")
        out["wall"] = (before + after) / 2
        out["attempted"] += 1
        out["failed"] += got != ref
    return out


def traced_run(spark, wl, session_s: float, work, seed: int) -> tuple[dict, int, int]:
    """Trace ``wl`` (and its companions), stop the session, read the event
    log, and return (per-layer metrics, executions attempted, failed)."""
    from .workloads import WORKLOADS

    pipelines = [wl]
    for name in COMPANIONS.get(wl.name, ()):
        companion = WORKLOADS[name]()
        companion.prepare(str(work), seed)
        pipelines.append(companion)
    results = {p.name: _trace_pipeline(spark, p, seed, p is wl) for p in pipelines}
    stop_session(spark)
    by_group = event_log_by_group(str(work / "eventlog"))

    values = {name: 0.0 for name, _ in PER_LAYER}
    for name, res in results.items():
        for s in res["spans"][1:]:
            if s.layer != "plans":
                values[f"{s.layer}.s"] += s.seconds
        rows = {s.name: s.rows for s in res["spans"]}
        for layer, stage in ROWS_OUT[name].items():
            values[f"{layer}.rows_out"] = rows[stage]
        values.update(res["counts"])
    for layer in PYTHON_LAYERS:
        g = by_group.get(f"trace:{layer}", {})
        values[f"{layer}.python_s"] = g.get("python_s", 0.0)
        if f"{layer}.bytes_to_python" in values:
            values[f"{layer}.bytes_to_python"] = g.get("bytes_to_python", 0.0)

    own = results[wl.name]
    total = own["spans"][0].seconds
    values["session.start_s"] = session_s
    values["plans.jobs"], values["plans.stages"] = own["plans"]
    values["plans.shuffle_bytes"] = by_group.get(f"untraced:{wl.name}", {}).get("shuffle_bytes", 0.0)
    values["trace.overhead_s"] = total - own["wall"]
    values["trace.unaccounted_s"] = total - sum(s.seconds for s in own["spans"][1:])

    log("spans " + json.dumps({k: [asdict(s) for s in r["spans"]] for k, r in results.items()}))
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in PER_LAYER}
    attempted = sum(r["attempted"] for r in results.values())
    return metrics, attempted, sum(r["failed"] for r in results.values())
